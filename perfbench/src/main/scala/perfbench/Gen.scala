package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

/** Seeded input generators for the workloads. Every corpus is a pure
  * function of (workload, seed) and is written once per seed; the engine
  * then reads the files with its own readers (`CorpusOps.docsFromTextDir`,
  * `CorpusOps.docsFromJsonl`).
  *
  * Sizes and length distributions are fixed quantile grids shuffled by the
  * seed, so every seed carries the same amount of work and only the text
  * differs: run-to-run spread then measures the engine, not the draw.
  */
object Gen {

  /** What a workload's inputs hold; `inputTokens` is whitespace tokens. */
  final case class Manifest(docs: Int, inputTokens: Long)

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def double(): Double = r.nextDouble()
    def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
    }
  }

  private val Syllables = Vector("ba", "ko", "ri", "tan", "mel", "su", "dor", "vi",
    "len", "ga", "pho", "ne", "ru", "sti", "mar", "qu", "el", "zo", "hin", "ta",
    "lo", "ve", "cra", "nu", "dix", "ope", "ul", "fer", "ska", "mi")

  private val Stopwords = Vector("the", "and", "of", "to", "is", "in", "that", "it")

  /** A seeded content vocabulary with a Zipf-like draw, mixed with English
    * stopwords.
    */
  final class Lexicon(seed: Long, size: Int = 6000) {
    private val rng = new Rng(seed ^ 0x51ed5eedL)
    val words: Vector[String] = Vector.tabulate(size) { i =>
      val n = 2 + (i % 3)
      (0 until n).map(_ => Syllables(rng.int(Syllables.size))).mkString + (i % 97)
    }
    // inverse-CDF table of a Zipf(1.0) draw over the vocabulary
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(r: Rng): String = {
      val u = r.double()
      var lo = 0; var hi = size - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      words(lo)
    }
    def sentence(r: Rng): String = {
      val n = 8 + r.int(13)
        val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val w = if (r.double() < 0.25) Stopwords(r.int(Stopwords.size)) else word(r)
        if (i == 0) sb.append(w.capitalize) else sb.append(' ').append(w)
        i += 1
      }
      sb.append('.').toString
    }
    /** Paragraphs of sentences until at least `tokens` tokens. */
    def document(r: Rng, tokens: Int): String = {
      val sb = new StringBuilder
      var have = 0
      while (have < tokens) {
        if (sb.nonEmpty) sb.append("\n\n")
        val k = 3 + r.int(5)
        var j = 0
        while (j < k && have < tokens) {
          val s = sentence(r)
          if (j > 0) sb.append(' ')
          sb.append(s)
          have += s.count(_ == ' ') + 1
          j += 1
        }
      }
      sb.toString
    }
  }

  /** n lengths with a long (log-normal) tail and an exact mean, in a
    * seed-shuffled order.
    */
  def longTail(n: Int, mean: Double, sigma: Double, r: Rng): IndexedSeq[Int] = {
    val raw = (0 until n).map { i =>
      math.exp(sigma * inverseNormal((i + 0.5) / n))
    }
    val scale = mean / (raw.sum / n)
    r.shuffle(raw.map(x => math.max(1, math.round(x * scale).toInt)))
  }

  /** Acklam's rational approximation of the standard normal quantile. */
  private def inverseNormal(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -inverseNormal(1 - p)
  }

  def tokens(s: String): Int = graft.core.Text.tokenCount(s)

  private def writeText(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  private val json = new ObjectMapper()

  private def jsonl(p: Path, rows: Iterator[(Long, String)]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try rows.foreach { case (id, text) =>
      val o = json.createObjectNode(); o.put("doc_id", id); o.put("text", text)
      w.write(json.writeValueAsString(o)); w.write('\n')
    } finally w.close()
  }

  /** Warm-up inputs share the main inputs' vocabulary (`lex`), so caches
    * keyed by token are filled before timing, as they are in production.
    */

  /** Long documents as one `.txt` file per doc (the reference's corpus
    * layout): `n` docs averaging about `mean` tokens, log-normal lengths.
    * Each length is snapped to half a chunk past a whole number of
    * `chunkTokens` chunks, so every seed yields the same chunk counts and
    * collapse rounds and no doc sits on a chunk boundary.
    */
  def longDocs(dir: Path, seed: Long, lex: Lexicon, n: Int, mean: Int, chunkTokens: Int)
      : Manifest = {
    Files.createDirectories(dir)
    val r = new Rng(seed)
    val lens = longTail(n, mean, 0.6, r).map { l =>
      ((math.max(1L, math.round(l.toDouble / chunkTokens + 0.5)) - 0.5) * chunkTokens).toInt
    }
    var total = 0L
    lens.zipWithIndex.foreach { case (len, i) =>
      val text = lex.document(new Rng(seed * 1000003L + i), len)
      total += tokens(text)
      writeText(dir.resolve(f"doc_$i%04d.txt"), text)
    }
    Manifest(n, total)
  }

  /** Generated/reference summary pairs as two JSONL tables keyed by
    * doc_id: references ~700 tokens, generated summaries 200-2048 tokens
    * (log-uniform grid), each generated sentence copied from the reference
    * with a per-pair overlap share from a fixed 0.1-0.8 grid.
    */
  def evalPairs(dir: Path, seed: Long, lex: Lexicon, n: Int): Manifest = {
    Files.createDirectories(dir)
    val r = new Rng(seed)
    val genLens = r.shuffle((0 until n).map(i =>
      math.round(200 * math.pow(2048.0 / 200, (i + 0.5) / n)).toInt))
    val overlaps = r.shuffle((0 until n).map(i => 0.1 + 0.7 * (i + 0.5) / n))
    val pairs = (0 until n).map { i =>
      val pr = new Rng(seed * 7919L + i)
      val ref = lex.document(pr, 660 + pr.int(81))
      val refSents = graft.core.Text.sentences(ref)
      val sb = new StringBuilder
      var have = 0
      while (have < genLens(i)) {
        val s =
          if (pr.double() < overlaps(i)) refSents(pr.int(refSents.size))
          else lex.sentence(pr)
        if (sb.nonEmpty) sb.append(' ')
        sb.append(s)
        have += tokens(s)
      }
      (i.toLong + 1, sb.toString, ref)
    }
    jsonl(dir.resolve("gen.jsonl"), pairs.iterator.map(p => (p._1, p._2)))
    jsonl(dir.resolve("ref.jsonl"), pairs.iterator.map(p => (p._1, p._3)))
    Manifest(n, pairs.map(p => tokens(p._2).toLong + tokens(p._3)).sum)
  }
}
