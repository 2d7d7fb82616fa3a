package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text/scalar column functions.
  *
  * Covers the reference's string pipeline — HTML field extraction
  * (`dynamic_spider.py:53-67`), domain derivation (`db.py:61`),
  * full-text predicate (`search.py:60-63`), snippet windows
  * (`search.py:102-112`) — plus the training-data-pipeline text
  * analysis suite (language ID, quality scoring, token counting,
  * fingerprinting). No UDFs: the tokenizer and the full-text match are
  * native codegen'd expressions ([[graft.expressions.Tokens]],
  * [[graft.expressions.FtsMatch]]), the rest are Spark builtins, and
  * every rule has a DuckDB rendering for the oracle. The lambda HOFs
  * (`aggregate`, `transform`, `filter` over token arrays) are not
  * whole-stage codegen'd: Spark evaluates them interpreted inside the
  * generated stage.
  */
object TextOps {

  /** `\w+`-style lowercase tokenizer (reference `search.py:104`:
    * `re.findall(r"\w+", query.lower())`). Keeps [a-z0-9_] runs: the
    * native [[graft.expressions.Tokens]] scan, the same array as
    * [[tokSql]]'s split of the lowercased text with empties dropped. */
  def tokens(c: Column): Column = graft.expressions.Tokenizer.tokens(c)

  /** The DuckDB rendering of [[tokens]] over source expression `src`
    * — every oracle restatement of the tokenizer MUST come from here
    * so the engines can never drift on tokenization. */
  def tokSql(src: String = "text"): String =
    s"list_filter(string_split_regex(lower($src), '[^a-z0-9_]+'), x -> x != '')"

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword token estimate: words fragment into ≤4-char
    * pieces (the ~4-chars-per-token heuristic real BPE vocabularies
    * land on), so the estimate is Σ ⌈len(word)/4⌉ — deterministic and
    * SQL-portable, used for corpus token budgeting. */
  def tokenCountBpe(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, t) => acc + ((length(t) + lit(3)) / lit(4)).cast("long"))

  /** The DuckDB rendering of [[tokenCountBpe]] over a token-list
    * expression — the same single-source rule as [[tokSql]] (every
    * oracle restatement of the estimate MUST come from here, so the
    * ⌈len/4⌉ divisor can never drift between engines or queries).
    * COALESCE: DuckDB's list_sum is NULL on an empty list where the
    * Spark aggregate's 0-init yields 0. */
  def tokenCountBpeSql(toksExpr: String): String =
    s"COALESCE(list_sum(list_transform($toksExpr, t -> (length(t) + 3) // 4)), 0)"

  /** Full-text match (F2): any query token appears in the text's token
    * set. The reference delegates to Postgres tsvector/tsquery over
    * `title || ' ' || domain || ' ' || url` (`search.py:60-63`,
    * null-strict — quirk Q5); we replicate the null-strictness by NOT
    * coalescing the concat inputs. One fused scan per row
    * ([[graft.expressions.FtsMatch]]), the same answer as
    * `arrays_overlap(tokens(text), tokens(query))`.
    */
  def ftsMatch(text: Column, query: Column): Column =
    graft.expressions.Tokenizer.ftsMatch(text, query, stemmed = false)

  /** Token normalizer behind q52's vocabulary and the stemmed FTS
    * variant: the Snowball English (Porter2) stemmer — the SAME
    * algorithm Postgres `to_tsquery('english', …)` applies in the
    * reference (`search.py:61`). Implemented natively
    * ([[graft.expressions.Porter2Stem]], codegen'd) with a
    * mechanically mirrored DuckDB rendering ([[stemSql]] →
    * [[Porter2.sql]]) so stemmed queries keep a full hash-gate
    * oracle. Until round 7 this was a 6-suffix "stemming-lite"
    * approximation; Porter2Spec + the Porter2Dump differential run
    * cover the upgrade. */
  def stem(t: Column): Column = graft.expressions.Porter2Stem.stem(t)

  /** The DuckDB rendering of [[stem]] over token expression `v` —
    * same single-source rule as [[tokSql]]. */
  def stemSql(v: String): String = Porter2.sql(v)

  /** Stemmed full-text match: both haystack and query tokens pass
    * through [[stem]] before the overlap test, so inflected forms
    * match their root ("frost" finds "frosted"). Same null-strict
    * concat discipline and fused scan as [[ftsMatch]]: the answer of
    * `arrays_overlap(transform(tokens(text), stem),
    * transform(tokens(query), stem))`. */
  def ftsMatchStemmed(text: Column, query: Column): Column =
    graft.expressions.Tokenizer.ftsMatch(text, query, stemmed = true)

  /** Domain from url: authority host (reference `urlparse(url).netloc`,
    * `db.py:61`). parse_url is codegen'd in Spark; oracle uses an
    * equivalent regexp. */
  def domainOf(url: Column): Column = parse_url(url, lit("HOST"))

  /** Deterministic cross-engine 60-bit string hash: first 15 hex chars
    * of md5, parsed base-16. DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT.
    * Basis for fingerprints, shingle hashes, MinHash, SimHash, and
    * exact-dedup keys.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Snippet (P11, `search.py:102-112`): the first query token (in
    * query order) found in the lowercased content wins; ±`window`
    * chars around it wrapped in "... {} ..."; fallback = first
    * 2*window chars + "...". The query is tokenized once, on the
    * driver, by the engine's one tokenizer, so its terms are
    * [[tokens]]'s.
    *
    * No lambda and no branch holds the hit: every term's `instr` runs
    * on one `lower(content)`, the hit is the first non-zero of them,
    * and the window always takes `substring` (from 1 on a miss), so
    * Spark evaluates `lower(content)` and the hit once per row as
    * common subexpressions. The trailing 0 types the array when the
    * query has no tokens.
    */
  def snippet(content: Column, query: String, window: Int = 100): Column = {
    import graft.expressions.Tokenizer
    val terms = Tokenizer.tokenStrings(
      org.apache.spark.unsafe.types.UTF8String.fromString(query), Tokenizer.useICU)
    val lc = lower(content)
    val hits = terms.distinct.map(instr(lc, _)).toSeq :+ lit(0)
    val pos = coalesce(get(array_remove(array(hits: _*), 0), lit(0)), lit(0))
    concat(when(pos > 0, lit("... ")).otherwise(lit("")),
      substring(content, greatest(pos - window, lit(1)), lit(2 * window)),
      when(pos > 0, lit(" ...")).otherwise(lit("...")))
  }

  // ---------------------------------------------------------------
  // Training-data-pipeline text analysis
  // ---------------------------------------------------------------

  /** Tiny per-language stopword profiles for the heuristic language
    * classifier. Deterministic and SQL-expressible (same lists in the
    * oracle); real systems would use char-n-gram profiles.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "et", "les", "des", "une", "dans", "pour"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "wo3")
  )

  /** Count of DISTINCT tokens of `c` present in `words`. */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    size(array_intersect(tokens(c), array(words.map(lit): _*)))

  /** Heuristic language ID: argmax distinct-stopword hits over the
    * fixed profiles; zero hits → "und"; ties broken by profile order
    * (first wins).
    */
  def langId(c: Column): Column = {
    val scored = langProfiles.map { case (lang, words) =>
      (lang, stopwordHits(c, words))
    }
    val maxScore = greatest(scored.map(_._2): _*)
    scored.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(maxScore > 0 && s === maxScore, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: mean of three bounded ratios — length
    * score (chars/500 capped at 1), alphabetic-char ratio, English
    * stopword ratio (hits/token * 4 capped at 1). Shape mirrors
    * C4/Gopher-style heuristics; constants fixed, SQL-portable.
    */
  def qualityScore(c: Column): Column = {
    val nChars = length(c).cast("double")
    val lenScore = least(nChars / 500.0, lit(1.0))
    val alpha = length(regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    val alphaRatio = when(nChars > 0, alpha / nChars).otherwise(lit(0.0))
    val nTok = tokenCount(c).cast("double")
    val stopHits = size(filter(tokens(c),
      t => t.isin(langProfiles.head._2.map(lit): _*))).cast("double")
    val stopRatio = least(when(nTok > 0, stopHits / nTok * 4.0)
      .otherwise(lit(0.0)), lit(1.0))
    round((lenScore + alphaRatio + stopRatio) / 3.0, 6)
  }

  /** Document fingerprint: 60-bit hash of the normalized token stream
    * (case/punct/whitespace-insensitive content identity). */
  def fingerprint(c: Column): Column =
    hash60(concat_ws(" ", tokens(c)))

  /** Word k-shingles over an ALREADY-MATERIALIZED token-array column.
    * Callers should bind `tokens(text)` to a column first and pass
    * the attribute: inlining the tokenizer subtree here (it is
    * referenced 3×) multiplies the expression tree and costs tens of
    * seconds of whole-stage-codegen compilation. */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column = {
    val n = size(toks)
    when(n < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Word k-shingles of the text (convenience; see
    * [[shinglesFromTokens]] for the codegen note). */
  def shingles(c: Column, k: Int = 3): Column =
    shinglesFromTokens(tokens(c), k)

  /** Distinct shingle hash set from a token-array column — basis for
    * Jaccard / MinHash. */
  def shingleHashesFromTokens(toks: Column, k: Int = 3): Column =
    array_distinct(transform(shinglesFromTokens(toks, k), s => hash60(s)))

  /** Distinct shingle hash set — convenience wrapper. */
  def shingleHashes(c: Column, k: Int = 3): Column =
    shingleHashesFromTokens(tokens(c), k)
}
