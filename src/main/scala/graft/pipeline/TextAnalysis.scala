package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language ID, fingerprinting.
  *
  * All pure `Column` combinators over `functions._` — codegen'd, no UDFs,
  * so a 100 TB documents scan stays a single whole-stage-codegen pass with
  * column pruning (only `text` is read when only these are selected).
  */
object TextAnalysis {

  /** Column-level let-binding: evaluate `x` ONCE and use it many times in
    * `body`. Without this, an expression referenced inside a lambda
    * (`transform`/`aggregate`) is INLINED and re-evaluated per element —
    * e.g. a regexp-normalized string recomputed once per n-gram index turns
    * an O(n) scan into O(n²) regexp calls. `transform` evaluates its input
    * array once per row, so wrapping x in a 1-element array and mapping
    * over it gives a true let. */
  private[graft] def bind(x: Column)(body: Column => Column): Column =
    transform(array(x), x0 => body(x0)).getItem(0)

  /** Whitespace token count; 0 for empty/blank text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Character count. */
  def charCount(text: Column): Column = length(text)

  /** Mean token length (0 for empty). */
  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double")
        / tokenCount(text).cast("double"))

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
        .cast("double") / length(text).cast("double"))

  /** Uppercase ratio. */
  def upperRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[A-Z]", "")))
        .cast("double") / length(text).cast("double"))

  // ----------------------------------------------- repetition signals

  /** Word n-grams of a token array, in-row: [] when fewer than n tokens
    * (sequence() would run DESCENDING for a negative span). */
  private def wordNgrams(ts: Column, n: Int): Column =
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** One sorted-array pass extracting (best run, best gram, duplicated
    * chars): runs of equal grams in the sorted array ARE the per-gram
    * counts, so a single `aggregate` with a 5-field struct accumulator
    * yields the mode (ties to the lexicographically smallest gram — the
    * first max run encountered) and Σ count×length over grams with
    * count>1 (the retroactive +2·len at run==2 counts the run's first
    * occurrence). */
  private def runStats(sorted: Column): Column = {
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("bestg"), lit(0L).as("dupc"))
    aggregate(sorted, init, (acc, x) => {
      val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
        .otherwise(lit(1L))
      val isBest = run > acc.getField("best")
      struct(
        x.as("prev"), run.as("run"),
        when(isBest, run).otherwise(acc.getField("best")).as("best"),
        when(isBest, x).otherwise(acc.getField("bestg")).as("bestg"),
        (acc.getField("dupc") +
          when(run === 2L, length(x).cast("long") * 2L)
            .when(run > 2L, length(x).cast("long"))
            .otherwise(lit(0L))).as("dupc"))
    })
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted to
    * word n-grams — this corpus has no line/sentence structure), computed
    * IN-ROW: no explode, no shuffle, the quality pass stays one narrow
    * scan at any corpus size.
    *
    *  - `top_2gram_char_frac`: chars of the most frequent word 2-gram
    *    (count × gram length) over the whitespace-normalized text length;
    *    ties break to the lexicographically smallest gram.
    *  - `dup_<n>gram_char_frac`: Σ count×length over word n-grams
    *    occurring more than once, same denominator (n = `dupN`, default 3
    *    — Gopher uses 5..10 on web text; the right n tracks the corpus's
    *    natural phrase length).
    *
    * Both use the simple count×length numerator (not overlap-adjusted
    * coverage), capped at 1.0 — the definition the DuckDB oracle replays
    * verbatim. 0.0 for docs without enough tokens. */
  def repetitionSignals(text: Column, dupN: Int = 3): Seq[(String, Column)] = {
    def frac(numer: Column, denom: Column): Column =
      round(least(lit(1.0),
        when(denom > 0, numer.cast("double") / denom.cast("double"))
          .otherwise(lit(0.0))), 6)
    val ts = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    val normLen = length(array_join(ts, " "))
    val s2 = runStats(sort_array(wordNgrams(ts, 2)))
    val sN = runStats(sort_array(wordNgrams(ts, dupN)))
    Seq(
      "top_2gram_char_frac" ->
        frac(s2.getField("best") * length(s2.getField("bestg")), normLen),
      s"dup_${dupN}gram_char_frac" -> frac(sN.getField("dupc"), normLen))
  }

  /** English stopword hit ratio: stopword tokens / tokens (quality and
    * language signal; the classic Gopher/C4-style heuristic). */
  val enStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")

  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val toks = split(lower(trim(text)), "[^a-z]+")
    val hits = size(filter(toks, t => t.isInCollection(stopwords)))
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(hits.cast("double") / tokenCount(text).cast("double"))
  }

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation,
    * stopword presence (C4/Gopher-flavoured, deliberately simple+cheap). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  /** Language ID: count stopword hits per language, take the argmax
    * (n-gram/stopword heuristic; deterministic, SQL-expressible). Returns
    * the language code with the most hits, "und" when all zero. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "to", "that", "it", "was", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "es", "una", "por", "que", "con", "para"))

  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+")
    val scored = langStopwords.map { case (code, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("hits"),
             lit(code).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Document fingerprint: hash of whitespace/case-normalized text —
    * exact-dup key robust to trivial formatting differences. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Canonical text normalization for ingest: lowercase → Unicode NFC
    * composition ([[graft.functions.NfcNormalize]]) → whitespace collapse
    * → trim. Run BEFORE fingerprinting/shingling so encoding variants of
    * the same document (decomposed vs precomposed accents, stray
    * whitespace, case) dedup as one; ASCII text passes through the NFC
    * step untouched, so the common case costs one regex pass. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.NfcNormalize(lower(text)), "\\s+", " "))

  /** Word k-shingles (n-gram set) — the MinHash input. The token array is
    * let-bound so the split runs once per row, not once per shingle. */
  def shingles(text: Column, k: Int = 3): Column =
    bind(split(lower(trim(text)), "[^a-z0-9]+")) { toks =>
      val idx = sequence(lit(0), greatest(size(toks) - k, lit(0)))
      array_distinct(transform(idx, i => array_join(slice(toks, i + 1, lit(k)), " ")))
    }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS local fingerprinting algorithm): hash every word k-gram,
    * then keep the MINIMUM hash of each w-length sliding window of
    * consecutive gram hashes. Guarantees at least one shared fingerprint
    * for any shared run of ≥ w+k−1 tokens (a coverage guarantee MinHash
    * sampling does not give), while selecting only ~2/(w+1) of all grams.
    * Hashes are md5 hex strings so an external engine reproduces the
    * selection bit-for-bit (hex compares lexicographically the same
    * everywhere); swap in xxhash64 for an 8-byte wire format at scale.
    * Pure narrow expression: split → transform → array_min per window —
    * no shuffle, stays in codegen. Returns the DISTINCT selected hashes. */
  def winnow(text: Column, k: Int = 3, w: Int = 4): Column = {
    val sel = bind(bind(split(lower(trim(text)), "[^a-z0-9]+")) { toks =>
      // fused window fingerprints (graft.functions.WindowMd5Hex): same
      // md5 hex per window as transform(sequence(...), i =>
      // md5(array_join(slice(toks, i, k), " "))), one pass, no per-window
      // slice/join allocations (HashExprsSpec pins the differential)
      graft.functions.WindowMd5Hex(toks, k)
    }) { fps =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(fps) - (w - 1), lit(1))),
        i => array_min(slice(fps, i, lit(w)))))
    }
    // null/empty documents fingerprint to NOTHING (not a null or
    // empty-string hash) — explode() then drops the row entirely
    when(text.isNull || length(trim(text)) === 0,
      array().cast("array<string>")).otherwise(sel)
  }

  /** Hashed word k-shingles: 64-bit hashes instead of strings. At scale the
    * candidate join carries these arrays through a shuffle and intersects
    * them per pair — longs make that both ~8x smaller on the wire and far
    * cheaper to set-intersect than variable-length strings. Collision rate
    * at 64 bits is negligible for dedup purposes. Built in ONE pass (hash
    * inside the shingle lambda, single distinct over longs) rather than
    * string-shingles → distinct → hash → distinct. */
  def hashedShingles(text: Column, k: Int = 3): Column =
    graft.functions.ShingleHashes(split(lower(trim(text)), "[^a-z0-9]+"), k)

  /** Hashed character n-grams (same rationale as [[hashedShingles]]). */
  def hashedCharNgrams(text: Column, n: Int = 5): Column =
    graft.functions.CharNgramHashes(regexp_replace(lower(trim(text)), "\\s+", " "), n)

  /** Privacy scrub: mask URLs then emails — a codegen'd regexp chain, no
    * UDF, narrow map (no shuffle at any scale). Patterns stay inside the
    * RE2-compatible subset so the DuckDB oracle replays them verbatim. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "https?://\\S+", "<URL>"),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")

  /** Full privacy scrub: [[scrub]] (URLs first, so an IP inside a URL is
    * already masked) + IPv4 addresses + phone numbers (E.164-style
    * `+`-prefixed runs and NNN-NNN-NNNN dashed/spaced forms). Same
    * RE2-compatible, codegen'd narrow-map contract as [[scrub]]. */
  def scrubAll(text: Column): Column =
    regexp_replace(
      regexp_replace(scrub(text),
        "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
      "\\+\\d{7,15}\\b|\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b", "<PHONE>")

  /** URL canonicalization — the crawl-dedup key: two fetches of the same
    * page under cosmetic URL variation (scheme/host case, fragments,
    * tracking parameters, default ports, trailing slash) must collapse to
    * ONE key before URL-level dedup or domain accounting. Steps, all
    * RE2-compatible regexes so the DuckDB oracle replays them verbatim:
    * drop the #fragment, lowercase ONLY the scheme://host (path and query
    * stay case-sensitive per RFC 3986), drop :80/:443 default ports, strip
    * utm-prefixed and fbclid/gclid tracking params, sweep dangling ?/&,
    * drop a bare trailing slash on a pathless root. Narrow map — codegen'd
    * regexp chain, no shuffle at any scale. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase scheme://host[:port] — capture it, lower it, re-attach rest
    val lowered = bind(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)) { sh =>
      when(sh === "", noFrag)
        .otherwise(concat(lower(sh), expr_substr(noFrag, length(sh))))
    }
    val noPort = regexp_replace(lowered, "^(https?://[^/?#:]*):(?:80|443)(/|\\?|$)", "$1$2")
    val noTrack = regexp_replace(noPort, "[?&](?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*", "")
    // a removed FIRST param leaves "...path&b=c" — promote the first
    // & of a ?-less URL back to ? (and collapse a bare "?&")
    val fixSep = regexp_replace(
      regexp_replace(noTrack, "\\?&", "?"),
      "^([^?&]+)&", "$1?")
    val noDangle = regexp_replace(fixSep, "[?&]$", "")
    regexp_replace(noDangle, "^(https?://[^/?#]*)/$", "$1")
  }

  /** substring-from-index helper: SQL substr(s, pos+1) as a Column. */
  private def expr_substr(s: Column, from: Column): Column =
    s.substr(from + 1, length(s))

  // ----------------------------------------------------- HTML extraction

  /** Structural HTML → newline-delimited raw blocks: script/style bodies
    * removed, block-closing tags become line breaks, inline tags KEPT (so
    * per-line link density can still be measured). RE2-compatible regexes
    * only (no backreferences — script and style each get their own
    * pattern) so the DuckDB oracle replays the chain verbatim. Narrow
    * codegen'd map — the 100 TB crawl-ingest front door stays a single
    * scan pass. */
  def htmlBlocks(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    regexp_replace(noComment,
      "(?i)<(?:br|hr)[^>]*>|</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote)[^>]*>",
      "\n")
  }

  /** Visible text of one block/line: tags stripped, the five predefined
    * entities + nbsp decoded (amp LAST so `&amp;lt;` stays `&lt;`),
    * whitespace collapsed. */
  def visibleText(block: Column): Column = {
    val noTags = regexp_replace(block, "<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(from), to) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Whole-document plain text: [[htmlBlocks]] → strip/decode → one
    * newline between non-empty blocks. */
  def htmlToText(html: Column): Column =
    array_join(filter(transform(split(htmlBlocks(html), "\n"),
      b => visibleText(b)), v => length(v) > 0), "\n")

  /** Line-level boilerplate analysis (trafilatura/jusText-flavoured): one
    * row per non-empty block with its visible text, anchor-text link
    * density, token count, and the keep decision — nav bars, footers and
    * link farms have high link density and few tokens; body prose has the
    * opposite. Returns (idCol, line_idx, line, link_density, kept).
    * Density = anchor-enclosed visible chars / visible chars. */
  def htmlMainText(df: org.apache.spark.sql.DataFrame, html: Column,
                   idCol: String = "doc_id", maxLinkDensity: Double = 0.5,
                   minTokens: Int = 3): org.apache.spark.sql.DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(htmlBlocks(html), "\n")).as(Seq("line_idx", "raw")))
    val visible = visibleText(col("raw"))
    val linkChars = length(concat_ws("",
      regexp_extract_all(col("raw"), lit("(?is)<a[^>]*>([^<]*)</a>"), lit(1))))
    lines
      .withColumn("line", visible)
      .where(length(col("line")) > 0)
      .withColumn("link_density",
        round(linkChars.cast("double") /
          greatest(length(col("line")), lit(1)).cast("double"), 6))
      .withColumn("n_tokens", size(split(col("line"), " ")))
      .withColumn("kept",
        col("link_density") <= maxLinkDensity && col("n_tokens") >= minTokens)
      .select(col(idCol), col("line_idx"), col("line"),
        col("link_density"), col("kept"))
  }

  /** Repetition signal (Gopher-style): frequency share of the most common
    * token per document. explode → (doc, token) counts → per-doc max/sum —
    * both aggregations map-side combinable; no windows, no per-doc token
    * lists in one buffer. */
  def topTokenRatio(docs: org.apache.spark.sql.DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "[^a-z0-9]+")).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg((max(col("n")).cast("double") / sum(col("n")))
        .as("top_token_ratio"))
  }

  /** Gopher/C4-style quality-rule battery as named boolean columns — the
    * composable form of [[qualityScore]] for pipelines that need to know
    * WHY a document was dropped. All int/int double ratios, so the flags
    * are bit-deterministic across engines. */
  def gopherRules(text: Column, minTokens: Int = 5, maxTokens: Int = 10000,
                  minMeanTok: Double = 2.0, maxMeanTok: Double = 12.0,
                  maxPunct: Double = 0.2): Seq[(String, Column)] = Seq(
    "ok_tokens" -> tokenCount(text).between(minTokens, maxTokens),
    "ok_tok_len" -> meanTokenLen(text).between(minMeanTok, maxMeanTok),
    "ok_punct" -> (punctRatio(text) <= maxPunct),
    "ok_stopwords" -> (stopwordRatio(text) > 0.0))

  /** Bigram language-model score per document: train an add-k-smoothed
    * bigram LM on the corpus ITSELF, then score each document by its mean
    * log-probability — the classic "does this look like the rest of the
    * corpus" quality/outlier signal (a cheap stand-in for the perplexity
    * filters used on web-scale training data; KN-smoothed n-gram scoring
    * follows the same plan shape).
    *
    * P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), score = mean ln P over
    * the document's bigrams. Plan shape: one bigram explode feeds both
    * the count tables and the scoring stream; counts are two map-side
    * combinable aggregations; scoring joins the stream back on the bigram
    * key — hash equi-joins that AQE broadcasts when the LM is small but
    * that stay shuffle joins for a web-scale vocabulary (an LM table of
    * billions of bigrams must NOT be collected or broadcast). Per-doc
    * aggregation sums 6dp-rounded logs in decimal, so the score is
    * bit-deterministic under any partitioning.
    *
    *
    * Pin lifetime: the returned LAZY frame reads the pinned count table —
    * its executor blocks are held until the frame is unreferenced (the
    * ContextCleaner reclaims them); a one-shot caller that materializes
    * the scores should not retain the frame.
    * Returns (idCol, n_bigrams, lm_score); documents with < 2 tokens have
    * no bigrams and are absent. */
  def lmScore(docs: org.apache.spark.sql.DataFrame, k: Double = 0.5,
              idCol: String = "doc_id",
              textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = filter(split(lower(trim(col(textCol))), "[^a-z0-9]+"),
      t => length(t) > 0)
    val pairs = docs.select(col(idCol), explode(bind(toks) { ts =>
        arrays_zip(
          slice(ts, lit(1), greatest(size(ts) - 1, lit(0))).as("w1"),
          slice(ts, lit(2), greatest(size(ts) - 1, lit(0))).as("w2"))
      }).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // the bigram count table is the LM artifact — PIN it (vocab-sized)
    // and derive c(w1,·) as its per-history roll-up, so the corpus-sized
    // bigram explode runs once for the tables and once for scoring,
    // instead of once per table
    val c2 = { import graft.rel.Checkpoint.PinOps
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n2")).pin() }
    val c1 = c2.groupBy("w1").agg(sum(col("n2")).as("n1"))
    // vocabulary size: one scalar to the driver (like tfidf's N)
    val v = docs.select(explode(toks).as("t")).agg(countDistinct(col("t")))
      .collect()(0).getLong(0).toDouble
    pairs
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col(idCol),
        round(log((col("n2") + k) / (col("n1") + k * v)), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round((sum(col("lp")).cast("double") / count(lit(1))), 6).as("lm_score"))
  }

  /** Interpolated Kneser–Ney bigram score per document — the smoothing the
    * production perplexity filters actually use (KenLM/CCNet lineage):
    * unlike add-k ([[lmScore]]), KN discounts observed bigrams by a fixed
    * D and backs the freed mass off to the CONTINUATION unigram
    * distribution ("how many distinct histories precede w2"), which scores
    * burstily-repeated tokens far more honestly than raw frequency.
    *
    *   P(w2|w1) = (max(c(w1,w2) − D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1,·)
    *   Pcont(w2) = N1+(·,w2) / |distinct bigram types|
    *
    * Trained on the corpus itself (so every scored bigram is observed and
    * P > 0 with 0 < D < 1; at 100 TB the count tables would come from a
    * held-out sample — the plan is identical). Plan shape is lmScore's:
    * one bigram explode feeds three map-side-combinable count tables
    * (c(w1,w2); c(w1,·) with distinct-continuation fan-out N1+(w1,·); the
    * continuation table N1+(·,w2)), which join back onto the scoring
    * stream as hash equi-joins — AQE broadcasts small LMs, web-scale
    * vocabularies stay shuffle joins. One scalar (bigram type count) to
    * the driver. 6dp-rounded logs, decimal sums: bit-deterministic, SQL
    * oracle replays ranks exactly.
    *
    *
    * Pin lifetime: the returned LAZY frame reads the pinned count table —
    * its executor blocks are held until the frame is unreferenced (the
    * ContextCleaner reclaims them); a one-shot caller that materializes
    * the scores should not retain the frame.
    * Returns (idCol, n_bigrams, kn_score); docs with < 2 tokens absent. */
  def knScore(docs: org.apache.spark.sql.DataFrame, discount: Double = 0.75,
              idCol: String = "doc_id",
              textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"knScore: discount=$discount")
    val toks = filter(split(lower(trim(col(textCol))), "[^a-z0-9]+"),
      t => length(t) > 0)
    val pairs = docs.select(col(idCol), explode(bind(toks) { ts =>
        arrays_zip(
          slice(ts, lit(1), greatest(size(ts) - 1, lit(0))).as("w1"),
          slice(ts, lit(2), greatest(size(ts) - 1, lit(0))).as("w2"))
      }).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // pin the bigram table (the LM artifact, vocab-sized) and derive
    // EVERY other KN table from it — c(w1,·) = Σ n2, N1+(w1,·) = row
    // count per history, N1+(·,w2) = row count per continuation, and the
    // type count — so the corpus-sized bigram explode runs once for the
    // tables and once for scoring
    val c2 = { import graft.rel.Checkpoint.PinOps
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n2")).pin() }
    val hist = c2.groupBy("w1").agg(sum(col("n2")).as("n1"),
      count(lit(1)).as("nf"))                     // c(w1,·), N1+(w1,·)
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("nb")) // N1+(·,w2)
    val types = c2.count().toDouble                          // |bigram types|
    val d = discount
    pairs
      .join(c2, Seq("w1", "w2"))
      .join(hist, Seq("w1"))
      .join(cont, Seq("w2"))
      .select(col(idCol),
        round(log(
          (greatest(col("n2") - d, lit(0.0)) +
            lit(d) * col("nf") * (col("nb") / lit(types))) / col("n1")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round((sum(col("lp")).cast("double") / count(lit(1))), 6).as("kn_score"))
  }

  /** TF-IDF term weights over a corpus: one row per (doc, term) with term
    * frequency, document frequency and tf·ln(N/df), for terms with
    * tf ≥ minTf. df (one row per distinct term) joins back to tf on the
    * term key — both sides hash-partition on term, and AQE upgrades it to
    * a broadcast when the vocabulary is small (at web scale a vocabulary
    * can be billions of terms, so it must NOT be unconditionally
    * broadcast). The full-corpus shuffles are the two term aggregations,
    * both map-side combinable. No per-doc ranking window: downstream
    * consumers pick their own top-k (scores are emitted, not argmaxed, so
    *
    * Pin lifetime: the returned LAZY frame reads the pinned count table —
    * its executor blocks are held until the frame is unreferenced (the
    * ContextCleaner reclaims them); a one-shot caller that materializes
    * the scores should not retain the frame.
    * results stay bit-robust across engines). */
  def tfidf(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
            textCol: String = "text", minTf: Int = 2): org.apache.spark.sql.DataFrame = {
    val n = docs.count()
    val terms = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "[^a-z0-9]+")).as("term"))
      .filter(length(col("term")) > 0)
    // pin the (doc, term, tf) matrix: df derivation and the score join
    // both read it, so the term explode + aggregation run once
    val tf = { import graft.rel.Checkpoint.PinOps
      terms.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf")).pin() }
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.filter(col("tf") >= minTf)
      .join(dfreq, "term")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * log(lit(n.toDouble) / col("df"))).as("tfidf"))
  }
}
