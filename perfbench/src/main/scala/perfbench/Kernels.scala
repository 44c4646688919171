package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{Bpe, Rouge, Splitter, Text}
import graft.llm.{ExtractiveSummarizer, TinyTransformer}
import graft.operators.Dedup

/** Single-thread `System.nanoTime` loops over the pure kernels, on fixed
  * generated inputs (independent of the workload seed). Each reports the
  * median of several timed repetitions, per unit of work.
  */
object Kernels {
  private val lex = new Gen.Lexicon(7L)
  private def doc(tokens: Int, salt: Long): String = lex.document(new Gen.Rng(salt), tokens)

  /** Median ns per call of `f`, over `reps` timed calls after warm-up
    * calls lasting at least `warmMs`.
    */
  private def nsPerCall(reps: Int, warmMs: Long = 50)(f: => Any): Double = {
    val warmEnd = System.nanoTime() + warmMs * 1000000L
    var sink = 0
    // identityHashCode keeps the result alive without walking it
    while (System.nanoTime() < warmEnd) sink += System.identityHashCode(f)
    val ts = Array.fill(reps) {
      val t0 = System.nanoTime(); sink += System.identityHashCode(f)
      (System.nanoTime() - t0).toDouble
    }
    if (sink == 42) println("")
    Stats.median(ts.toSeq)
  }

  def run(spark: SparkSession): Map[String, Double] = {
    val long = doc(54000, 1)
    val section = doc(12000, 2)
    val longToks = Text.tokenCount(long).toDouble
    val sectionToks = Text.tokenCount(section).toDouble
    val ref = doc(700, 3)
    val gen = doc(800, 4)
    val short = doc(200, 5)
    val bpeText = doc(4000, 6)
    val tx = TinyTransformer()
    Map(
      "core.split_ns_per_tok" -> nsPerCall(7)(Splitter.recursiveSplit(long, 12000, 200,
        Splitter.DefaultSeparators, Text.tokenCount)) / longToks,
      "core.bpe_ns_per_tok" -> nsPerCall(9)(Bpe.demo.count(bpeText)) /
        Text.tokenCount(bpeText),
      "core.rouge_us_per_pair" -> nsPerCall(9)(Rouge.all(gen, ref)) / 1e3,
      "llm.extractive_ns_per_tok" ->
        nsPerCall(9)(ExtractiveSummarizer.prepared(section)(2048)) / sectionToks,
      "llm.tx_encode_us" -> nsPerCall(21)(tx.encode(short)) / 1e3,
      "dedup.minhash_ns_per_shingle" -> minhash(spark))
  }

  /** MinHash is reachable only as a DataFrame operator: one task over 200
    * docs (8 hashes, 3-word shingles), per distinct shingle.
    */
  private def minhash(spark: SparkSession): Double = {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, doc(400, 100L + i)))
    val shingles = docs.map { case (_, t) =>
      t.toLowerCase.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet.size
    }.sum
    val df = docs.toDF("doc_id", "text").coalesce(1).persist()
    df.count()
    val ns = nsPerCall(5, warmMs = 200) {
      Dedup.minhashSignature(df, "text", 3, 8).select(col("mh_0"))
        .write.format("noop").mode("overwrite").save()
    }
    df.unpersist()
    ns / shingles
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
