package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._

/** Text analysis operators for training-data pipelines: token statistics,
  * heuristic language ID, quality scoring, fingerprinting. All pure
  * `functions._` compositions — codegen'd, no UDFs, linear scans. */
object TextAnalysis {
  /** Whitespace tokens (lowercased). */
  def tokens(text: Column): Column = F.split(F.lower(F.trim(text)), "\\s+")

  /** Token count via regex match count (robust to repeated whitespace). */
  def tokenCount(text: Column): Column = F.regexp_count(text, F.lit("\\S+"))

  def charCount(text: Column): Column = F.char_length(text)
  def distinctTokenCountFromTokens(toks: Column): Column = F.size(F.array_distinct(toks))
  /** Mean token length in chars, double. Total token chars =
    * `char_length(array_join(toks, ""))` — same value as the former
    * `aggregate` fold (sum of per-token lengths) but a codegen'd builtin
    * instead of an interpreted lambda. */
  def meanTokenLength(text: Column): Column = meanTokenLengthFromTokens(tokens(text))
  def meanTokenLengthFromTokens(toks: Column): Column =
    F.char_length(F.array_join(toks, "")).cast(DoubleType) / F.size(toks)

  /** Unicode script blocks as EXPLICIT code-point ranges — written as
    * literal ranges (not `\p{Script=...}` classes) so the Java-regex
    * Spark side and the RE2 DuckDB side compile the identical character
    * sets and the script-mix gate carries a full value oracle. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    // \x{...} escapes: the range syntax Java regex and RE2 share
    // (\uXXXX is Java-only and would silently diverge in the oracle)
    "latin"    -> "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "greek"    -> "\\x{0370}-\\x{03FF}",
    "arabic"   -> "\\x{0600}-\\x{06FF}",
    "cjk"      -> "\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}",
    "digit"    -> "0-9")

  /** Count of characters in one script range — the regex REFERENCE form
    * ([[scriptStats]] folds all seven counters into one code-point pass;
    * KernelParitySpec pins bit-parity between the two). */
  def scriptCharCount(text: Column, range: String): Column =
    F.regexp_count(text, F.lit(s"[$range]"))

  /** All [[ScriptRanges]] counters + total chars in ONE code-point pass
    * ([[graft.expressions.ScriptMixStats]]) — stage this struct in its
    * own projection (the [[graft.pipeline.QualityFilters
    * .withGopherSignals]] staging trick: CollapseProject does not inline
    * a non-cheap alias referenced seven times), then read fractions /
    * dominant script off the staged column. */
  def scriptStats(text: Column): Column =
    graft.expressions.ScriptMixStats(text)

  /** [[scriptFractions]] restated over a staged [[scriptStats]] column —
    * identical values (count/total over the same integer counters), one
    * text scan instead of seven. */
  def scriptFractionsFromStats(stats: Column): Seq[(String, Column)] = {
    val total = F.greatest(stats.getField("n_chars"), F.lit(1)).cast(DoubleType)
    ScriptRanges.map { case (name, _) =>
      s"frac_$name" ->
        (stats.getField(s"n_$name").cast(DoubleType) / total)
    }
  }

  /** [[dominantScript]] restated over a staged [[scriptStats]] column —
    * the same argmax (ties to the earlier entry), zero extra scans. */
  def dominantScriptFromStats(stats: Column): Column = {
    val counts = ScriptRanges.zipWithIndex.map { case ((name, _), i) =>
      F.struct(stats.getField(s"n_$name").as("n"), F.lit(-i).as("ni"),
        F.lit(name).as("s"))
    }
    val best = F.array_max(F.array(counts: _*))
    F.when(best.getField("n") > 0, best.getField("s")).otherwise(F.lit("other"))
  }

  /** (name, fraction-of-chars) columns for every [[ScriptRanges]] entry —
    * the script-mix profile of a document (the writing-system signal a
    * multilingual curation pass filters/routes on; complements the
    * stopword [[langId]], which only sees space-separated scripts).
    * Fractions are over total char count; zero-length docs yield 0. */
  def scriptFractions(text: Column): Seq[(String, Column)] = {
    val total = F.greatest(F.char_length(text), F.lit(1)).cast(DoubleType)
    ScriptRanges.map { case (name, range) =>
      s"frac_$name" -> (scriptCharCount(text, range).cast(DoubleType) / total)
    }
  }

  /** Dominant script of a document: the [[ScriptRanges]] entry with the
    * highest char count (ties to the earlier entry), or "other" when no
    * listed script matches a single char. */
  def dominantScript(text: Column): Column = {
    val counts = ScriptRanges.zipWithIndex.map { case ((name, range), i) =>
      F.struct(scriptCharCount(text, range).as("n"), F.lit(-i).as("ni"),
        F.lit(name).as("s"))
    }
    val best = F.array_max(F.array(counts: _*))
    F.when(best.getField("n") > 0, best.getField("s")).otherwise(F.lit("other"))
  }

  /** Small per-language stopword marker sets for the n-gram-free heuristic
    * language ID. Deliberately tiny — the operator shape (score-and-argmax
    * over token membership) is what scales, the lists are swappable. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  /** Per-language marker hit count. */
  def langScoreFromTokens(toks: Column, lang: String): Column =
    graft.expressions.TextKernels.tokenSetHits(toks, stopwords.toMap.apply(lang))

  /** Heuristic language ID: argmax of marker counts, ties broken by the
    * declared language precedence, "und" when nothing matches. */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))
  def langIdFromTokens(toks: Column): Column = {
    val scores = stopwords.map { case (lang, _) => lang -> langScoreFromTokens(toks, lang) }
    val best = scores.map(_._2).reduce((a, b) => F.greatest(a, b))
    scores.reverse.foldLeft(F.lit("und")) { case (acc, (lang, sc)) =>
      F.when(sc === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Quality features + composite keep-score in [0,1]:
    * length band, alpha ratio, stopword ratio, repetition (distinct/total). */
  def qualityScore(text: Column): Column = qualityScoreFromTokens(text, tokens(text))
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val nChar = charCount(text).cast(DoubleType)
    val alphaChars = F.char_length(F.regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType)
    val stopHits = langScoreFromTokens(toks, "en").cast(DoubleType)
    val distinctRatio = distinctTokenCountFromTokens(toks).cast(DoubleType) / nTok
    val lengthOk = F.when(nTok >= 5 && nTok <= 100000, 1.0).otherwise(0.0)
    val alphaRatio = alphaChars / nChar
    val stopRatio = F.least(stopHits / nTok * 5.0, F.lit(1.0))
    (lengthOk + alphaRatio + stopRatio + distinctRatio) / 4.0
  }

  /** CCNet-style normalization (Wenzek et al. 2020 §4.1) — the canonical
    * text key used before hashing for deduplication, so near-identical
    * documents differing only in case, digits, punctuation, or spacing
    * collapse to one key: lowercase, every digit → `0`, Unicode
    * punctuation/symbols stripped, whitespace runs collapsed, trimmed.
    *
    * Pure regexp_replace chain — codegen'd, row-local, zero shuffle. The
    * character classes are limited to ones Java regex and RE2 interpret
    * identically (`[0-9]`, `\p{P}`, `\p{S}`, `\s`), which is what keeps a
    * normalized-key dedup oracle-checkable across engines. */
  def normalizeText(text: Column): Column =
    F.trim(F.regexp_replace(
      F.regexp_replace(
        F.regexp_replace(F.lower(text), "[0-9]", "0"),
        "[\\p{P}\\p{S}]", ""),
      "\\s+", " "))

  /** Document fingerprint: md5 over the first n normalized tokens — a cheap
    * prefix fingerprint for clustering boilerplate. */
  def prefixFingerprint(text: Column, n: Int = 8): Column =
    F.md5(F.array_join(F.slice(tokens(text), 1, n), " ").cast(BinaryType))

  /** Rolling-hash content fingerprint: xxhash64 of every w-token window,
    * keep the minimum (a 1-of-n winnowing sketch). One kernel pass
    * ([[graft.expressions.WinnowMinHash]]); bit-parity with the former
    * transform/slice HOF chain is asserted in KernelParitySpec. */
  def winnowFingerprint(text: Column, w: Int = 4): Column =
    graft.expressions.TextKernels.winnowMinHash(tokens(text), w)

  /** Engine-portable winnowing fingerprint: min over the md5-prefix long
    * ([[Sketches.hexPrefix]] — the repo's portable hash) of every `w`-token
    * window (space-joined; fewer than `w` tokens hash the whole joined
    * array once, mirroring [[winnowFingerprint]]'s clamping). Unlike the
    * xxhash64 kernel, the FINGERPRINT ITSELF is statable in external SQL,
    * so the gate carries a full value-hash oracle.
    *
    * `toks` MUST be a BOUND attribute (stage `tokens(text)` in its own
    * projection first): the per-window slice references it inside the
    * lambda, and Catalyst re-inlines an unbound producer per element —
    * an inline split would re-tokenize once per window position. */
  def winnowFingerprintMd5(toks: Column, w: Int = 4): Column =
    F.array_min(F.transform(
      F.sequence(F.lit(0), F.greatest(F.size(toks) - w, F.lit(0))),
      i => Sketches.hexPrefix(
        F.array_join(F.slice(toks, i + 1, F.lit(w)), " "))))

  /** Vowel-group syllable heuristic: runs of `[aeiouy]` in the lowered
    * text. Vowel groups never span whitespace, so counting them over the
    * whole text equals summing per word — one regex pass, no split. */
  def syllableCount(text: Column): Column =
    F.regexp_count(F.lower(text), F.lit("[aeiouy]+"))

  /** Sentence terminator runs (`[.!?]+`), floored at 1 so ratio
    * denominators stay defined for fragment documents. */
  def sentenceCount(text: Column): Column =
    F.greatest(F.lit(1), F.regexp_count(text, F.lit("[.!?]+")))

  /** Classic readability scores (Flesch 1948 reading ease; Kincaid et
    * al. 1975 grade level) from the three regex counters above — the
    * audience-level quality signal dataset cards report alongside the
    * Gopher/C4 filters. Row-local codegen arithmetic with PINNED
    * association (each ratio divided once, terms combined left to
    * right), so the doubles are engine-portable; the regex classes are
    * ones Java regex and RE2 read identically. Documents with zero
    * words answer NULL (not a sentinel). Output: (id, n_words,
    * n_sentences, n_syllables, flesch, fkgl). */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = F.col(textCol)
    val staged = docs.where(t.isNotNull).select(
      F.col(idCol),
      tokenCount(t).cast("long").as("n_words"),
      sentenceCount(t).cast("long").as("n_sentences"),
      syllableCount(t).cast("long").as("n_syllables"))
    val w = F.col("n_words").cast(DoubleType)
    val wps = w / F.col("n_sentences").cast(DoubleType)
    val spw = F.col("n_syllables").cast(DoubleType) / w
    staged.select(F.col(idCol), F.col("n_words"), F.col("n_sentences"),
      F.col("n_syllables"),
      F.when(F.col("n_words") > 0L,
        F.lit(206.835d) - F.lit(1.015d) * wps - F.lit(84.6d) * spw)
        .as("flesch"),
      F.when(F.col("n_words") > 0L,
        F.lit(0.39d) * wps + F.lit(11.8d) * spw - F.lit(15.59d))
        .as("fkgl"))
  }

  /** Cross-document n-gram novelty: for each document, how much of its
    * content exists elsewhere in the corpus — `shared` counts the doc's
    * distinct word n-grams that appear in at least one OTHER document,
    * `novelty` = 1 − shared/n_ngrams. The corpus-level memorization-
    * exposure statistic behind duplicate-driven memorization analyses
    * (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better" measures the same overlap the other way around); unlike the
    * dedup operators it scores EVERY document rather than extracting
    * pairs, so it feeds quality filtering and dataset cards directly.
    *
    * Shape: one exploded (id, shingle) relation off the codegen'd
    * [[graft.expressions.WordShingles]] kernel (tokens staged once), a
    * count per shingle (one shuffle with map-side combine), a join back
    * on the shingle key (hot boilerplate shingles are single-key rows on
    * the frequency side — AQE skew-join splits the probe side), and a
    * final per-doc aggregation. Linear in total shingles; nothing
    * quadratic, nothing driver-side. Documents shorter than n tokens
    * contribute their whole text as one shingle (kernel semantics). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val pairs = graft.pipeline.Dedup.shingled(
      docs.select(F.col(idCol), F.col(textCol)), textCol, idCol, n)
    val freq = pairs.groupBy("shingle").agg(F.count(F.lit(1)).as("$td.__df"))
    pairs.join(freq, "shingle")
      .groupBy("id")
      .agg(
        F.count(F.lit(1)).as("n_ngrams"),
        F.count(F.when(F.col("`$td.__df`") > 1, 1)).as("shared"))
      .select(F.col("id").as(idCol), F.col("n_ngrams"), F.col("shared"),
        (F.lit(1.0) - F.col("shared").cast("double") /
          F.col("n_ngrams").cast("double")).as("novelty"))
  }
}
