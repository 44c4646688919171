package graft.core

/** Pure-Scala text primitives (zero Spark deps).
  *
  * Re-expresses the reference's scalar string layer
  * (SURVEY.md §2.8; reference: runners/run_summarization_ollama_iterative.py:19-47,
  * utils/calculate_tokens.py:7-19, runners/run_summarization_ollama.py:9-13).
  */
object Text {

  /** Thinking-block tags the reference strips (reference:
    * run_full_evaluation_pipeline.py:34-63 — `<think>`, `<thinking>`,
    * `<thought>`, `<reasoning>`, `<analysis>`, case-insensitive, DOTALL).
    */
  private val thinkTagRe =
    "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*?<\\s*/\\s*\\1\\s*>".r

  /** Unclosed opening tag at end of text is also dropped (reference cleans
    * dangling open tags by removing everything after them).
    */
  private val danglingOpenRe =
    "(?is)<\\s*(think|thinking|thought|reasoning|analysis)\\s*>.*\\z".r

  private val tripleNewlineRe = "\\n{3,}".r
  private val wsRunRe = "\\s+".r

  // Hot-path tokenizer patterns, compiled once: String.split(regex)
  // delegates to Pattern.compile per CALL, and these three run inside
  // per-row UDFs across the whole eval/ta/encode surface.
  // Pattern.split(s) is exactly String.split(re) (limit 0) — same output.
  private val wsSplitRe = java.util.regex.Pattern.compile("\\s+")
  private val sentenceSplitRe =
    java.util.regex.Pattern.compile("(?<=[.!?;])\\s+|\\n+")
  private val metricTokenRe =
    java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  /** F1: remove thinking blocks, squeeze >=3 newlines to 2, trim. */
  def cleanThinking(s: String): String = {
    val noTags = danglingOpenRe.replaceAllIn(thinkTagRe.replaceAllIn(s, ""), "")
    tripleNewlineRe.replaceAllIn(noTags, "\n\n").trim
  }

  /** F1 hierarchical variant: additionally squeeze ALL whitespace runs to a
    * single space (reference: runners/..._hierarchical.py:20-40).
    */
  def cleanThinkingFlat(s: String): String =
    wsRunRe.replaceAllIn(cleanThinking(s), " ").trim

  /** F2/F4: whitespace tokens. Empty/blank input => zero tokens. */
  def wsTokens(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array.empty else wsSplitRe.split(t)
  }

  /** F2: approximate token count = whitespace word count (reference:
    * runners/run_summarization_ollama_mapreduce.py:58-60). The reference
    * mixes HF-tokenizer counts and whitespace counts; we standardize on the
    * whitespace proxy (documented deviation, SURVEY.md §7.4.7) and keep the
    * length function pluggable in the splitter.
    */
  def tokenCount(s: String): Int = wsTokens(s).length

  def charCount(s: String): Int = s.length
  def wordCount(s: String): Int = wsTokens(s).length

  /** C3: token truncation — keep first k whitespace tokens (reference:
    * runners/run_summarization_ollama.py:9-13 uses tokenizer encode/decode;
    * whitespace proxy here).
    */
  def truncateTokens(s: String, k: Int): String = {
    val toks = wsTokens(s)
    if (toks.length <= k) s.trim else toks.take(k).mkString(" ")
  }

  /** Sentence segmentation used by the deterministic extractive summarizer:
    * split after `.`, `!`, `?`, `;`, or newline runs; keeps delimiters with
    * the preceding sentence.
    */
  def sentences(s: String): Vector[String] =
    sentenceSplitRe.split(s).iterator.map(_.trim).filter(_.nonEmpty).toVector

  /** Word tokenizer for ROUGE / lexical metrics: lowercase, split on
    * non-alphanumeric. Unicode-aware (the reference uses rouge_score's
    * ASCII-only tokenizer even on Vietnamese — documented deviation:
    * we keep all unicode letters/digits).
    */
  def metricTokens(s: String): Array[String] =
    // Locale.ROOT: default-locale toLowerCase diverges from Spark lower()
    // and the DuckDB oracle on tr/az/lt JVMs ('TITLE' -> 'tıtle') — the
    // NbModel.score convention, applied at the shared tokenizer
    metricTokenRe.split(s.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  /** F8: filename stem. */
  def stem(fname: String): String = {
    val base = fname.substring(fname.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** F7: model-name safe-encode (reference: run_full_evaluation_pipeline.py:170). */
  def safeName(s: String): String = s.replace(':', '_').replace('.', '_')

  /** F9: extract payload between ```json fences (reference:
    * evaluate/evaluate_summaries_semantic.py:87-91).
    */
  private val fenceRe = "(?s)```(?:json)?\\s*(.*?)```".r

  def stripCodeFence(s: String): String =
    fenceRe.findFirstMatchIn(s).map(_.group(1).trim).getOrElse(s.trim)
}

/** Exact pure-Scala twins of the Column functions in [[graft.functions]],
  * for per-document folds that must reproduce what the Column form computes
  * on the same string. They differ from [[Text]] on purpose:
  *  - Spark's `trim` strips only U+0020, where `String.trim` strips every
  *    char <= U+0020;
  *  - Spark's `split` keeps trailing empty strings (limit -1).
  * So `"\na b\n"` is 4 tokens here (`"", "a", "b", ""`) and 2 in
  * [[Text.tokenCount]]. Null rules follow Spark's as well: a null input
  * gives null where the Column form gives null, `concat` of a null is
  * null, and `arrayJoin` skips nulls.
  */
object SparkText {

  private val wsRun = java.util.regex.Pattern.compile("\\s+")

  /** Spark `trim`: strips U+0020 only. */
  private def trim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  private def tokens(s: String): Array[String] = wsRun.split(trim(s), -1)

  /** Twin of [[graft.functions.tokenCount]] for a non-null string. */
  def tokenCount(s: String): Long = {
    val t = trim(s)
    if (t.isEmpty) 0L else wsRun.split(t, -1).length.toLong
  }

  /** Twin of [[graft.functions.truncateTokens]]. */
  def truncateTokens(s: String, k: Int): String =
    if (s == null) null else tokens(s).iterator.take(k).mkString(" ")

  /** Twin of [[graft.functions.squeezeWhitespace]]. */
  def squeezeWhitespace(s: String): String =
    if (s == null) null else trim(wsRun.matcher(s).replaceAll(" "))

  /** Spark `concat`: null when any part is null. */
  def concat(parts: String*): String =
    if (parts.contains(null)) null else parts.mkString

  /** Spark `array_join`: null elements are skipped. */
  def arrayJoin(parts: Iterable[String], sep: String): String =
    parts.iterator.filter(_ != null).mkString(sep)

  /** Spark's ascending string order: nulls first, then UTF-8 byte order,
    * which is code-point order (`String.compareTo` compares UTF-16 units,
    * which puts U+10000.. before U+E000..U+FFFF).
    */
  val ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
      else {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n && a.charAt(i) == b.charAt(i)) i += 1
        if (i == n) Integer.compare(a.length, b.length)
        else Integer.compare(a.codePointAt(i), b.codePointAt(i))
      }
  }
}
