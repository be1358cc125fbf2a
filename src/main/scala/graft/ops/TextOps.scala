package graft.ops

import graft.functions.ShinglesExpr
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, built
  * from native Catalyst functions (whole-stage-codegen friendly; no UDFs in
  * the hot path). Every operator here has an ANSI-SQL mirror used as its
  * DuckDB oracle. Integer counts are preferred over float ratios so results
  * are bit-exact across engines.
  */
object TextOps {
  /** Bind `c` as a lambda variable and apply `f` to the bound reference —
    * the evaluate-once idiom for higher-order functions. Catalyst splices
    * lambda bodies verbatim and does NOT hoist invariant subtrees, so an
    * expensive expression referenced inside `transform`/`filter` lambdas
    * re-evaluates once PER ELEMENT (the O(tokens²) trap this round fixed);
    * a lambda variable is evaluated once and read O(1). Use this whenever
    * a non-trivial column feeds a lambda body.
    */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Whitespace tokens; empty/blank input → empty array (not [""]). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  def distinctTokenCount(c: Column): Column = size(array_distinct(tokens(lower(c))))

  /** Count of characters in `c` matching the regex character class. */
  def charClassCount(c: Column, cls: String): Column =
    length(c) - length(regexp_replace(c, cls, ""))

  def punctCount(c: Column): Column = charClassCount(c, "[.,!?;:]")
  def digitCount(c: Column): Column = charClassCount(c, "[0-9]")
  def upperCount(c: Column): Column = charClassCount(c, "[A-Z]")

  /** Tiny per-language stopword sets for the n-gram-free language-ID
    * heuristic (high-frequency function words; enough to separate the four
    * languages on running text).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "en", "que", "por", "con")
  )

  /** Count of members of `words` in an already-bound (lowercased) token
    * array column. Prefer this over [[wordSetCount]] when the caller has
    * materialized the token array — the bound-column variants avoid
    * re-evaluating the tokenizer expression per consumer.
    */
  def wordSetCountOf(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Count of tokens contained in `words` (case-insensitive). */
  def wordSetCount(c: Column, words: Seq[String]): Column =
    wordSetCountOf(tokens(lower(c)), words)

  def stopwordCount(c: Column, lang: String = "en"): Column =
    wordSetCount(c, stopwords(lang))

  def stopwordCountOf(toks: Column, lang: String = "en"): Column =
    wordSetCountOf(toks, stopwords(lang))

  /** Language-ID heuristic: the language whose stopword hit-count is
    * highest wins; ties and zero hits → "und" (undetermined). Evaluation
    * order en→de→fr→es is part of the contract (mirrored in the oracle).
    */
  def langId(c: Column): Column = bindOnce(tokens(lower(c)))(langIdOf)

  /** [[langId]] over an already-bound lowercased token array column. */
  def langIdOf(ltoks: Column): Column = {
    val counts = Seq("en", "de", "fr", "es").map(l => l -> wordSetCountOf(ltoks, stopwords(l)))
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und"): Column) { case ((l, cnt), acc) =>
      when(cnt === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Character-trigram language-ID: tiny per-language trigram profiles of
    * high-frequency function-word trigrams (space-padded); the language
    * with the most profile hits over the document's trigram stream wins,
    * ties/zero → "und". Complements the token-level [[langId]] — the
    * n-gram variant also works on unsegmented/odd-whitespace text.
    */
  private val trigramProfiles: Map[String, Set[String]] = Map(
    "en" -> Set(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
      "ng ", " to", "to ", " is", "is ", "ion", " it", "it ", "ent", " fo", "for"),
    "de" -> Set(" de", "der", "er ", "ie ", " un", "und", " di", "die", "sch",
      "ein", " ei", "ich", "ch ", "en ", "cht", " ni", "nic", "das", " da", "st "),
    "fr" -> Set(" le", "le ", " de", "de ", "es ", " la", "la ", "ent", " et",
      "et ", "que", " qu", "ue ", "ous", " po", "pou", "our", "ait", "ion", " un"),
    "es" -> Set(" el", "el ", " de", "de ", "la ", " la", "os ", " qu", "que",
      "ue ", " en", "en ", "ión", " co", "con", "ara", " pa", "par", "ado", "los")
  )

  /** One-pass trigram scorer (typed UDF — a per-language higher-order
    * expression stack would be 4×O(n) and fall out of codegen).
    */
  val langIdNgramUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) "und"
      else {
        val s = " " + text.toLowerCase.replaceAll("\\s+", " ") + " "
        val langs = Array("en", "de", "fr", "es")
        val counts = new Array[Int](4)
        var i = 0
        while (i + 3 <= s.length) {
          val tri = s.substring(i, i + 3)
          var l = 0
          while (l < 4) {
            if (trigramProfiles(langs(l)).contains(tri)) counts(l) += 1
            l += 1
          }
          i += 1
        }
        val best = counts.max
        if (best == 0) "und"
        else langs(counts.indexOf(best)) // first-wins tie-break: en,de,fr,es
      }
    }

  def langIdNgram(c: Column): Column = langIdNgramUdf(c)

  /** Composite quality score in [0,1] (float; oracled separately from the
    * integer signals). Penalizes very short docs, low stopword density, and
    * low type/token ratio — the usual cheap pretraining-corpus filters.
    */
  def qualityScore(c: Column): Column = bindOnce(tokens(lower(c)))(qualityScoreOf)

  /** [[qualityScore]] over an already-bound lowercased token array
    * (token COUNT is case-insensitive — lowercasing never changes
    * whitespace boundaries — so one lowered array serves all three
    * signals).
    */
  def qualityScoreOf(ltoks: Column): Column = {
    val nTok = size(ltoks).cast("double")
    val lenScore = least(nTok / lit(32.0), lit(1.0))
    val stopScore = least(stopwordCountOf(ltoks).cast("double") * lit(8.0) / greatest(nTok, lit(1.0)), lit(1.0))
    val ttr = size(array_distinct(ltoks)).cast("double") / greatest(nTok, lit(1.0))
    round((lenScore + stopScore + least(ttr * lit(2.0), lit(1.0))) / lit(3.0), 4)
  }

  /** Exact content fingerprint: md5 of whitespace-normalized, lowercased
    * text — the cheap dedup key.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Remove duplicate lines within a document, keeping the FIRST
    * occurrence and preserving order — the within-doc boilerplate cleanup
    * (repeated nav rows, cookie banners, headers) pretraining pipelines
    * run before any cross-doc dedup. Native higher-order functions with a
    * first-occurrence-index filter (`array_distinct` does not guarantee
    * order in every engine; the index filter does, and is mirrored
    * exactly by DuckDB's 1-based `list_position`/lambda-index pair).
    * O(lines²) per document — lines per doc are bounded and the work is
    * map-side, inside codegen, zero shuffle.
    */
  def dedupLines(c: Column, sep: String = "\n"): Column =
    bindOnce(split(c, java.util.regex.Pattern.quote(sep))) { ls =>
      array_join(filter(ls, (x, i) => array_position(ls, x) === i + 1), sep)
    }

  /** Deterministic content-hash bucket in [0, buckets): the first 24 md5
    * bits of the content, mod `buckets`. Stable across runs, partition
    * layouts, AND engines (md5 is standardized) — the primitive behind
    * reproducible splits and stratified sampling; a `rand()` decision is
    * none of these.
    */
  def hashBucket(c: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in (0, 2^24], got $buckets")
    conv(substring(md5(c), 1, 6), 16, 10).cast("long") % buckets
  }

  /** Deterministic content-hash bucket in [0, 100) (see [[hashBucket]]). */
  def splitBucket(c: Column): Column = hashBucket(c, 100)

  /** Deterministic stratified down-sampling decision: keep the row iff its
    * per-mille content bucket (salted by `seed`, so independent draws per
    * pipeline) is below the stratum's rate. Corpus mixing in one map-side
    * codegen'd pass — per-source/domain/language rates without a shuffle,
    * reproducible across runs, partition layouts and engines, and
    * content-stable: a re-crawled duplicate keeps the same fate.
    * `ratesPerMille` maps stratum value → keep-rate in [0, 1000];
    * unlisted strata default to `defaultPerMille`. NULL content is
    * dropped: `concat_ws` would otherwise collapse every null-content row
    * into the single bucket of md5(seed) and keep or drop the whole null
    * class wholesale — and a null-content doc is not trainable anyway.
    */
  def sampleKeep(content: Column, stratum: Column, seed: String,
                 ratesPerMille: Map[String, Int],
                 defaultPerMille: Int = 0): Column = {
    (ratesPerMille.values ++ Seq(defaultPerMille)).foreach(r =>
      require(r >= 0 && r <= 1000, s"per-mille rate out of range: $r"))
    val rate = ratesPerMille.foldRight(lit(defaultPerMille): Column) {
      case ((k, r), acc) => when(stratum === lit(k), lit(r)).otherwise(acc)
    }
    content.isNotNull &&
      bindOnce(hashBucket(concat_ws(":", lit(seed), content), 1000))(_ < rate)
  }

  /** Reproducible corpus split label from the content-hash bucket:
    * buckets [0, trainPct) → "train", [trainPct, trainPct+valPct) → "val",
    * rest → "test". A doc's assignment depends only on its content.
    */
  def stableSplit(c: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    bindOnce(splitBucket(c)) { b =>
      when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
    }
  }

  /** Canonicalize a URL into a dedup key — the web-pipeline normalization
    * that collapses crawl-duplicate URLs before content ever loads:
    *  1. drop the fragment (`#...`);
    *  2. lowercase the scheme and host (ONLY them — path case is
    *     significant);
    *  3. strip a leading `www.`;
    *  4. strip default ports (`:80` for http, `:443` for https);
    *  5. drop `utm_*` tracking query parameters (empty query → no `?`);
    *  6. strip trailing slashes from the path.
    * Native column expressions end to end (regexp/higher-order functions
    * in the Java-regex ∩ RE2 dialect, same discipline as [[redactPii]]),
    * so the operator stays inside codegen and oracles exactly.
    */
  def canonicalizeUrl(c: Column): Column = {
    // (?s) so the fragment strip crosses newlines in adversarial input,
    // and \z anchors (not $, which also matches before a FINAL newline) —
    // both are what make canonicalization IDEMPOTENT on arbitrary bytes
    // (property-tested), not just on well-formed URLs
    val noFrag = regexp_replace(c, "(?s)#.*", "")
    bindOnce(noFrag) { u =>
      // scheme://host[:port] prefix (no path/query chars), then the rest
      val rawPrefix = regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
      bindOnce(rawPrefix) { rawPre =>
        val rest = substring(u, length(rawPre) + 1, lit(1000000))
        val pre0 = lower(rawPre)
        val pre1 = regexp_replace(pre0, "://www\\.", "://")
        // [^:]* host group: a malformed double port (":80:80") must not
        // peel one layer per pass
        val pre = regexp_replace(
          regexp_replace(pre1, "^(http://[^:]*):80\\z", "$1"),
          "^(https://[^:]*):443\\z", "$1")
        bindOnce(rest) { r =>
          // split rest into path (before ?) and query (after ?)
          val qpos = instr(r, "?")
          val path0 = when(qpos > 0, substring(r, lit(1), (qpos - 1).cast("int")))
            .otherwise(r)
          val query = when(qpos > 0, substring(r, (qpos + 1).cast("int"), lit(1000000)))
            .otherwise(lit(""))
          val path = regexp_replace(path0, "/+\\z", "")
          val kept = array_join(
            filter(split(query, "&"), p => !p.startsWith("utm_")), "&")
          concat(pre, path,
            when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
        }
      }
    }
  }

  /** PII-ish surface patterns for pretraining-corpus scrubbing. Kept to
    * regex constructs with identical semantics in Java regex (Spark) and
    * RE2 (DuckDB) so counts and redactions oracle exactly.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^ \\t\\n]+"
  val longDigitPattern = "[0-9]{7,}"

  private def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Per-document counts of emails / urls / long digit runs. */
  def piiSignals(c: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> patternCount(c, emailPattern),
    "n_urls" -> patternCount(c, urlPattern),
    "n_long_digits" -> patternCount(c, longDigitPattern)
  )

  /** Redacted text: emails, then urls, then long digit runs replaced with
    * typed placeholder tokens (order matters — it is part of the contract,
    * mirrored in the oracle: an email inside a url has already been
    * swallowed by the url placeholder only if urls run first, so emails
    * run FIRST here).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        urlPattern, "<URL>"),
      longDigitPattern, "<NUM>")

  /** Word k-shingles of a token-array column: shingle i is toks[i..i+k)
    * joined by one space, null tokens skipped as `concat_ws` skips them;
    * fewer than k tokens → empty array, a null array → null. One native
    * expression ([[graft.functions.ShinglesExpr]]) that evaluates `toks`
    * once and builds each shingle in one pass, inside whole-stage codegen.
    */
  def shinglesOf(toks: Column, k: Int): Column =
    GraftSqlBridge.column(ShinglesExpr(GraftSqlBridge.expression(toks), k))

  /** Word k-shingles from raw text: [[shinglesOf]] over the lowercased
    * whitespace tokens.
    */
  def shingles(c: Column, k: Int): Column = shinglesOf(tokens(lower(c)), k)
}
