package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token
  * counting, quality scoring, n-gram-heuristic language ID, and
  * document fingerprinting. All pure Column expressions (codegen'd,
  * UDF-free) so they fold into the same scan as the dedup digests.
  */
object TextStats {

  /** Whitespace token count; empty/blank → 0. */
  def tokenCount(text: Column): Column =
    when(text.isNull || trim(text) === "", lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword-boundary token count: maximal letter runs, digit
    * runs, and symbol runs — the GPT-2 pre-tokenizer's coarse classes
    * without its lookahead (RE2-safe by construction, so the oracle
    * counts with the IDENTICAL pattern). The whitespace class is
    * EXPLICIT, not \s: Java's \s includes \x0B where RE2's does not,
    * and parity must hold on every input, not just inputs without
    * vertical tabs. Whitespace never tokenizes; null/blank → 0. A
    * codegen'd regexp_count, no UDF.
    */
  def bpeTokenCount(text: Column): Column =
    coalesce(
      regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+")),
      lit(0)).cast("long")

  /** Quality-scoring features + a composite score in [0,1]:
    * length signal, mean word length sanity, alphabetic ratio,
    * punctuation ratio. Deterministic arithmetic only.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val t = coalesce(trim(text), lit(""))
    val chars = length(t).cast("double")
    val toks = tokenCount(text).cast("double")
    val alpha = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?]", "")).cast("double")
    val meanWord = when(toks > 0, (chars - (toks - 1)) / toks).otherwise(lit(0.0))
    val alphaRatio = when(chars > 0, alpha / chars).otherwise(lit(0.0))
    val punctRatio = when(chars > 0, punct / chars).otherwise(lit(0.0))
    val lenScore = least(toks / lit(100.0), lit(1.0))
    val wordScore = when(meanWord >= 2.5 && meanWord <= 12.0, lit(1.0)).otherwise(lit(0.0))
    val score = round(
      lenScore * lit(0.4) + wordScore * lit(0.2) + alphaRatio * lit(0.3) +
        (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))) * lit(0.1), 6)
    Seq(
      "n_tokens" -> toks.cast("long"),
      "mean_word_len" -> round(meanWord, 6),
      "alpha_ratio" -> round(alphaRatio, 6),
      "punct_ratio" -> round(punctRatio, 6),
      "quality_score" -> score)
  }

  /** Token array of `text` (whitespace split; blank → empty). */
  def tokens(text: Column): Column = {
    val t = coalesce(trim(text), lit(""))
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Token-bigram array (adjacent-pair strings) — the input the
    * repetition signals consume. `toks` MUST be a MATERIALIZED column
    * (a prior select of [[tokens]]), and this result must itself be
    * materialized before [[repetitionFeatures]] consumes it: HOF
    * lambdas re-evaluate embedded expression trees per element
    * (SCALE.md invariant 7) — an inlined tokenize tree here costs
    * O(n²) regex splits per doc (measured: the sf0.1 query ran 12.5 s
    * inlined vs 1.6 s staged).
    */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2, transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Within-doc repetition signals (the Gopher/MassiveText-style
    * repetitious-text quality filters, Rae et al. 2021 §A1.1, token
    * form): duplicate-bigram instance fraction and the fraction of
    * bigram instances claimed by the single most frequent bigram.
    * Pure Column arithmetic over a pre-materialized bigram array.
    */
  def repetitionFeatures(bgs: Column): Seq[(String, Column)] = {
    val total = size(bgs).cast("double")
    val dis = size(array_distinct(bgs)).cast("double")
    // most-frequent-bigram count = longest equal run of the SORTED
    // array, one O(n log n) pass — the naive per-distinct filter() is
    // O(distinct·n) interpreted lambda evaluations per doc (measured:
    // that term held the sf0.1 query at 18.8 s)
    val top = when(total > 0,
      aggregate(array_sort(bgs),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best")).cast("double")).otherwise(lit(0.0))
    Seq(
      "n_bigrams" -> size(bgs).cast("long"),
      "dup_bigram_frac" -> round(when(total > 0, (total - dis) / total)
        .otherwise(lit(0.0)), 6),
      "top_bigram_frac" -> round(when(total > 0, top / total)
        .otherwise(lit(0.0)), 6))
  }

  /** Non-empty unit array of `text` split at separator regex `sep`
    * (lines: `"\n"`, paragraphs: `"\n\n"`) — the input
    * [[dupUnitFeatures]] consumes. Same contract as [[bigrams]]: the
    * result MUST be materialized (a prior select) before features
    * reference it, or CollapseProject re-splits per reference. Null
    * text → empty array; paragraph separators split into empty units
    * at line grain, which the filter drops. Splitting is left-to-right
    * non-overlapping (identical in Spark regex split and the oracle's
    * literal string_split), so an odd separator run like "\n\n\n"
    * leaves a lone "\n" unit at paragraph grain — whitespace units are
    * content to this signal, only EMPTY pieces are structural.
    */
  def unitArray(text: Column, sep: String): Column =
    filter(split(coalesce(text, lit("")), sep), u => u =!= "")

  /** Within-doc duplicate-unit repetition signals at line/paragraph
    * grain — the half of Rae et al. 2021 Table A1 the n-gram signals
    * in [[repetitionFeatures]] don't cover ("duplicate line fraction",
    * "duplicate paragraph fraction", and their character-mass forms).
    * Over a MATERIALIZED unit array `us` (from [[unitArray]]); `p`
    * names the grain in the output columns:
    *
    *  - `n_<p>`: unit count;
    *  - `dup_<p>_frac`: occurrences beyond each distinct unit's first,
    *    over total units;
    *  - `dup_<p>_char_frac`: those occurrences' character mass over
    *    total unit characters. Equal strings have equal lengths, so
    *    duplicate mass = total mass − distinct mass exactly.
    *
    * Pure Column expressions, map-side (each doc judges itself — the
    * cross-doc policies live in LineDedup); unit-less docs fail-safe
    * to 0.0, never 0/0.
    */
  def dupUnitFeatures(us: Column, p: String): Seq[(String, Column)] = {
    val n = size(us).cast("double")
    val nDis = size(array_distinct(us)).cast("double")
    val chars = aggregate(us, lit(0L), (a, x) => a + length(x)).cast("double")
    val disChars = aggregate(array_distinct(us), lit(0L),
      (a, x) => a + length(x)).cast("double")
    Seq(
      s"n_$p" -> size(us).cast("long"),
      s"dup_${p}_frac" -> round(when(n > 0, (n - nDis) / n)
        .otherwise(lit(0.0)), 6),
      s"dup_${p}_char_frac" -> round(when(chars > 0, (chars - disChars) / chars)
        .otherwise(lit(0.0)), 6))
  }

  // ---- compiled repetition kernels (r6) -------------------------
  // The HOF forms above ([[repetitionFeatures]], [[dupUnitFeatures]])
  // evaluate an interpreted lambda per array element (transform /
  // array_sort / aggregate are not whole-stage-codegen'd); these
  // kernels produce the IDENTICAL numbers in one tight primitive pass
  // per document and are pinned bit-for-bit against the expression
  // chains by RepKernelSpec. Exactness notes: Spark `trim` strips
  // 0x20 only; `split` is Java-regex with limit -1; `length` counts
  // code points; `round(x, 6)` is BigDecimal HALF_UP on the double.

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def trimSpaces(s: String): String = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** (n_bigrams, dup_bigram_frac, top_bigram_frac) of `text` — the
    * [[repetitionFeatures]]∘[[bigrams]]∘[[tokens]] chain compiled.
    * Null text yields the blank-doc row (callers filter nulls).
    */
  val repetitionKernel: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      val t = trimSpaces(if (text == null) "" else text)
      val toks: Array[String] =
        if (t.isEmpty) Array.empty[String] else wsPattern.split(t, -1)
      if (toks.length < 2) (0L, 0.0, 0.0)
      else {
        val nb = toks.length - 1
        val counts = new java.util.HashMap[String, Long](nb * 2)
        var i = 0
        while (i < nb) {
          counts.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
          i += 1
        }
        var top = 0L
        val it = counts.values.iterator()
        while (it.hasNext) { val c = it.next(); if (c > top) top = c }
        val total = nb.toDouble
        (nb.toLong,
          round6((total - counts.size.toDouble) / total),
          round6(top.toDouble / total))
      }
    })

  /** (n, dup_frac, dup_char_frac) of `text` split at regex `sepRegex` with
    * empty units dropped — the [[dupUnitFeatures]]∘[[unitArray]]
    * chain compiled (one grain per call; char mass in code points).
    */
  def dupUnitsKernel(sepRegex: String): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val p = java.util.regex.Pattern.compile(sepRegex)
    udf((text: String) => {
      val units = p.split(if (text == null) "" else text, -1)
      var n = 0
      var chars = 0L
      var disChars = 0L
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i < units.length) {
        val u = units(i)
        if (!u.isEmpty) {
          n += 1
          val c = u.codePointCount(0, u.length).toLong
          chars += c
          if (seen.add(u)) disChars += c
        }
        i += 1
      }
      if (n == 0) (0L, 0.0, 0.0)
      else {
        val f1 = round6((n.toDouble - seen.size.toDouble) / n.toDouble)
        val f2 =
          if (chars > 0)
            round6((chars.toDouble - disChars.toDouble) / chars.toDouble)
          else 0.0
        (n.toLong, f1, f2)
      }
    })
  }

  /** Stopword tables for the n-gram-heuristic language ID. Small,
    * high-frequency, language-distinctive words.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "de" -> Seq("der", "und", "die", "das", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "una", "es", "por", "para"),
    // ASCII-only terms: the DuckDB oracle's RE2 \b is ASCII-aware while
    // Java's is Unicode-aware — accented stopwords would disagree
    "pt" -> Seq("os", "uma", "com", "mais", "como", "seu", "sua"))

  /** Per-language stopword hit count: word-boundary regex matches. */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val t = lower(coalesce(text, lit("")))
    val pattern = words.mkString("\\b(", "|", ")\\b")
    size(split(t, pattern)) - 1 // matches = splits - 1; 0 when no match
  }

  /** Heuristic language ID: argmax of stopword hits, 'und'
    * (undetermined) when nothing matches. Deterministic tie-break by
    * table order.
    */
  def langId(text: Column): Column = {
    val hits = stopwords.map { case (l, ws) => l -> stopwordHits(text, ws) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // when-chain in table order: first language winning the argmax ties
    hits.foldLeft(Option.empty[Column]) { case (acc, (l, h)) =>
      Some(acc match {
        case None    => when(h === best && best > 0, lit(l))
        case Some(c) => c.when(h === best && best > 0, lit(l))
      })
    }.get.otherwise(lit("und"))
  }

  /** The eight words whose presence Gopher's "stop word" document
    * rule requires (Rae et al. 2021 §A1.1): a document must contain at
    * least two of them to pass [[gopherRules]]' `r_stop`.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher/MassiveText document-level quality-rule battery
    * (Rae et al. 2021 §A1.1) as pure Column expressions — the
    * pre-model heuristic gate a webtext pipeline runs before any
    * learned quality filter ([[QualityModel]] is the learned stage):
    *
    *   - `r_word_count`: 50 ≤ words ≤ 100,000
    *   - `r_mean_word`:  3 ≤ mean word length ≤ 10 (non-whitespace
    *     chars / words — the aggregate form, no per-token loop)
    *   - `r_symbol`:     (`#` + `...` occurrences) / words ≤ 0.1
    *   - `r_bullet`:     lines starting with a bullet (`-`/`*`) ≤ 90%
    *   - `r_ellipsis`:   lines ending in `...` ≤ 30%
    *   - `r_alpha`:      ≥ 80% of words contain a letter
    *   - `r_stop`:       ≥ 2 distinct [[gopherStopwords]] present
    *
    * `lowToks` MUST be a MATERIALIZED [[tokens]]`(lower(text))` column
    * (SCALE.md invariant 7: the two HOF rules re-evaluate their input
    * tree per element). Wordless docs fail the ratio rules outright
    * (no 0/0 passes). Line rules use `(?m)` anchors over the raw text
    * — one codegen'd regexp_count each, no line explode — and count a
    * doc with no newline as one line. All regexes are RE2-safe and the
    * arithmetic is per-row scalar, so a SQL oracle replicates the
    * battery exactly (the q_url_canon contract).
    */
  def gopherRules(text: Column, lowToks: Column): Seq[(String, Column)] = {
    val t = coalesce(text, lit(""))
    val nWords = size(lowToks).cast("double")
    val nonWs = length(regexp_replace(t, "[ \\t\\n\\x0B\\f\\r]", "")).cast("double")
    val meanWord = when(nWords > 0, nonWs / nWords).otherwise(lit(0.0))
    val nLines = size(split(t, "\n")).cast("double") // >= 1 even when blank
    val bulletLines = regexp_count(t, lit("(?m)^[ \\t]*[-*]")).cast("double")
    val ellipsisLines = regexp_count(t, lit("(?m)\\.\\.\\.[ \\t]*$")).cast("double")
    val symbols = (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("double")
    val alphaWords = size(filter(lowToks, w => w.rlike("[a-z]"))).cast("double")
    val stopHits = gopherStopwords
      .map(w => array_contains(lowToks, w).cast("int"))
      .reduce((a, b) => a + b)
    val rules = Seq(
      "r_word_count" -> (nWords >= 50.0 && nWords <= 100000.0),
      "r_mean_word" -> (meanWord >= 3.0 && meanWord <= 10.0),
      "r_symbol" -> when(nWords > 0, symbols / nWords <= 0.1).otherwise(lit(false)),
      "r_bullet" -> (bulletLines / nLines <= 0.9),
      "r_ellipsis" -> (ellipsisLines / nLines <= 0.3),
      "r_alpha" -> when(nWords > 0, alphaWords / nWords >= 0.8).otherwise(lit(false)),
      "r_stop" -> (stopHits >= 2))
    Seq(
      "n_words" -> nWords.cast("long"),
      "mean_word_len" -> round(meanWord, 6)) ++ rules ++ Seq(
      "gopher_pass" -> rules.map(_._2).reduce((a, b) => a && b))
  }

  /** Document fingerprint: md5 of the normalized text (lowercased,
    * whitespace-collapsed, trimmed) — the SQL-oracle-comparable form.
    */
  def fingerprintMd5(text: Column): Column =
    md5(trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " ")).cast("binary"))

  /** Rolling polynomial (Rabin-Karp) fingerprint of normalized text —
    * the incremental-hash form a streaming/chunking pipeline composes;
    * deterministic base, mod 2^64 by natural overflow.
    */
  private val rollingUdf = udf { (s: String) =>
    var h = 1469598103934665603L
    if (s != null) {
      var i = 0
      while (i < s.length) { h = h * 131L + s.charAt(i); i += 1 }
    }
    h
  }

  def fingerprintRolling(text: Column): Column =
    rollingUdf(trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " ")))
}
