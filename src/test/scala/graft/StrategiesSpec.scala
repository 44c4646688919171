package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PipelineConfig, Text}
import graft.eval.Metrics
import graft.llm.{ExtractiveSummarizer, IdentitySummarizer}
import graft.operators.TreeOps
import graft.strategy.{Hierarchical, Strategies}

class StrategiesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = PipelineConfig(
    chunkSize = 6, chunkOverlap = 0, tokenMax = 10,
    maxSummaryTokens = 4, maxCollapseRounds = 10,
    maxCritiqueIterations = 2, byTokens = true)

  private def docs: DataFrame = Seq(
    (1L, "alpha beta gamma. delta epsilon zeta. eta theta iota. kappa lambda mu."),
    (2L, "one two three. four five six."),
    (3L, "single short doc."))
    .toDF("doc_id", "text")

  private def strategies(s: graft.llm.Summarizer = ExtractiveSummarizer) =
    new Strategies(s, cfg = cfg)

  test("Q1 truncated: one summary per doc, within budget") {
    val out = strategies().truncated(docs).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val s = r.getAs[String]("summary")
      assert(s.nonEmpty)
      assert(Text.tokenCount(s) <= cfg.maxSummaryTokens)
    }
  }

  test("Q2 map-reduce: one summary per doc, deterministic across runs") {
    val a = strategies().mapReduce(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("summary")).toMap
    val b = strategies().mapReduce(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("summary")).toMap
    assert(a == b)
    assert(a.keySet == Set(1L, 2L, 3L))
    assert(a.values.forall(_.nonEmpty))
  }

  test("Q3 critique: one summary per doc, none empty") {
    val out = strategies().mapReduceCritique(docs).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[String]("summary").nonEmpty))
  }

  test("Q4 iterative: sequential fold semantics (identity summarizer witnesses the fold order)") {
    // with chunkSize >= doc tokens there is exactly one chunk, so the fold
    // returns summarize(chunk_0) — with identity, the doc text itself
    val bigCfg = cfg.copy(chunkSize = 100, maxSummaryTokens = 100)
    val out = new Strategies(IdentitySummarizer, cfg = bigCfg)
      .iterative(Seq((5L, "exact text preserved")).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(out(5L) == "exact text preserved")
  }

  test("Q4 iterative: one summary per doc on multi-chunk docs") {
    val out = strategies().iterative(docs).as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_.nonEmpty))
  }

  test("Q5 hierarchical: synthesized tree collapses to one summary per doc") {
    val out = new Hierarchical(ExtractiveSummarizer, cfg)
      .summarize(TreeOps.synthesize(docs))
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_.nonEmpty))
  }

  test("collapse loop terminates and respects the token budget shape") {
    // long doc forces at least one collapse round at tokenMax=10
    val long = Seq((9L, ("word " * 60).trim)).toDF("doc_id", "text")
    val out = strategies().mapReduce(long).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("summary").nonEmpty)
  }

  test("golden pin: strategy outputs are byte-stable across versions") {
    // Exact expected strings for a fixed corpus under Pipelines.TestCfg —
    // any change here is a semantic change to a strategy (or the extractive
    // scorer) and must be deliberate. Regenerate with Test/runMain
    // graft.GoldenGen.
    val gdocs = Seq(
      (1L, "Alpha beta gamma delta. Epsilon zeta eta theta iota kappa. " +
        "Lambda mu nu xi omicron pi rho sigma. Tau upsilon phi chi psi omega. " +
        "Alpha again closes the loop with beta and gamma for emphasis."),
      (2L, "One two three. Four five six seven eight nine ten eleven twelve. " +
        "Thirteen fourteen fifteen sixteen. Seventeen eighteen nineteen twenty."))
      .toDF("doc_id", "text")
    val s = Pipelines.strategies()
    def out(df: DataFrame): Map[Long, String] =
      df.orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(out(s.truncated(gdocs)) == Map(
      1L -> "Epsilon zeta eta theta iota kappa.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.mapReduce(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.mapReduceCritique(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
    assert(out(s.iterative(gdocs)) == Map(
      1L -> "loop with beta and gamma for emphasis.",
      2L -> "Four five six seven eight nine ten eleven"))
  }

  test("golden pin: Q5 on trees of mixed depth (corpus-wide max depth decides)") {
    // doc 1 is three levels deep, doc 2 two, doc 3 one. Doc 2's leaf
    // Header "Leaf" sits at its own deepest level: it is collapsed as an
    // empty section only because the corpus-wide max depth is 3, so its
    // parent "Tail" summarizes "Leaf\n\n" + summarize("") rather than the
    // raw title. Rows are listed out of order; ord decides.
    import graft.core.TreeNode
    val nodes = Seq(
      TreeNode(1L, 0L, -1L, 0, "Document", "doc one", 0),
      TreeNode(1L, 6L, 0L, 1, "Header", "Part B", 1),
      TreeNode(1L, 7L, 6L, 2, "Header", "Section B1", 0),
      TreeNode(1L, 1L, 0L, 1, "Header", "Part A", 0),
      TreeNode(1L, 2L, 1L, 2, "Header", "Section A1", 0),
      TreeNode(1L, 4L, 2L, 3, "Paragraph", "Zeta eta theta iota. Kappa lambda mu nu.", 1),
      TreeNode(1L, 3L, 2L, 3, "Paragraph", "Alpha beta gamma. Delta epsilon alpha.", 0),
      TreeNode(1L, 5L, 1L, 2, "Paragraph",
        "Loose paragraph under part A sits here, after alpha and beta.", 1),
      TreeNode(2L, 0L, -1L, 0, "Document", "doc two", 0),
      TreeNode(2L, 1L, 0L, 1, "Header", "Intro", 0),
      TreeNode(2L, 2L, 1L, 2, "Paragraph", "One two three four. Five six seven one.", 0),
      TreeNode(2L, 3L, 0L, 1, "Header", "Tail", 1),
      TreeNode(2L, 4L, 3L, 2, "Header", "Leaf", 0),
      TreeNode(2L, 5L, 0L, 1, "Header", "Empty", 2),
      TreeNode(3L, 0L, -1L, 0, "Document", "doc three", 0),
      TreeNode(3L, 1L, 0L, 1, "Paragraph", "Only a flat paragraph here. Nothing nested.", 0))
      .toDF()
    def out(s: graft.llm.Summarizer, c: PipelineConfig) = new Hierarchical(s, c)
      .summarize(nodes).as[(Long, String)].collect().toMap
    assert(out(ExtractiveSummarizer, Pipelines.TestCfg) == Map(
      1L -> "Part A Loose paragraph under part A sits",
      2L -> "Intro One two three four. Tail Leaf Empty",
      3L -> "Only a flat paragraph here. Nothing nested."))
    // the marking summarizer shows each level's input; "Leaf <>" is the
    // empty-section collapse of doc 2's leaf Header
    assert(out(MarkSummarizer, Pipelines.TestCfg) == Map(
      1L -> ("<Part A <Section A1 <Alpha beta gamma. Delta epsilon alpha. " +
        "Zeta eta theta iota. Kappa lambda mu nu.>>"),
      2L -> "<Intro <One two three four. Five six seven one.> Tail <Leaf <>> Empty <>>",
      3L -> "<Only a flat paragraph here. Nothing nested.>"))
    assert(out(MarkSummarizer, Pipelines.TestCfg.copy(tokenMax = 200)) == Map(
      1L -> ("<Part A <Section A1 <Alpha beta gamma. Delta epsilon alpha. " +
        "Zeta eta theta iota. Kappa lambda mu nu.> Loose paragraph under part A " +
        "sits here, after alpha and beta.> Part B <Section B1 <>>>"),
      2L -> "<Intro <One two three four. Five six seven one.> Tail <Leaf <>> Empty <>>",
      3L -> "<Only a flat paragraph here. Nothing nested.>"))
  }

  test("golden pin: Q2/Q3 collapse rounds (a summarizer that reports its input)") {
    // Each summary is four tokens, so at tokenMax 10 a bin holds two
    // summaries: doc 1's eight chunks collapse 8 -> 4 -> 2 summaries, doc
    // 2's three chunks 3 -> 2, doc 3 needs no round. Critique's loop budget
    // is tokenMax/2 = 5, so it collapses each doc down to one summary.
    val rdocs = Seq(
      (1L, (1 to 48).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 18).map(i => s"v$i").mkString(" ")),
      (3L, "a b c d"))
      .toDF("doc_id", "text")
    val st = new Strategies(ReportSummarizer, cfg = cfg.copy(chunker = "token_window"))
    def out(df: DataFrame) = df.as[(Long, String)].collect().toMap
    assert(out(st.mapReduce(rdocs)) ==
      Map(1L -> "d4 8 2 d3", 2L -> "d3 8 2 d2", 3L -> "d2 4 0 d1"))
    assert(out(st.mapReduceCritique(rdocs)) ==
      Map(1L -> "d5 4 0 d4", 2L -> "d4 4 0 d3", 3L -> "d2 4 0 d1"))
  }

  test("M2 bertScore: identical texts 1.0; disjoint near 0; asymmetric P/R") {
    val pairs = Seq(
      (1L, "alpha beta gamma", "alpha beta gamma"),      // identical
      (2L, "zz yy xx", "alpha beta gamma"),              // disjoint
      (3L, "alpha beta", "alpha beta gamma delta"))      // cand subset of ref
      .toDF("doc_id", "gen", "ref")
    val got = Metrics.bertScore(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("bert_p"), r.getAs[Double]("bert_r"), r.getAs[Double]("bert_f")))
      .toMap
    assert(got(1L) == ((1.0, 1.0, 1.0)))
    assert(got(2L)._3 < 0.5) // hashing embeddings: unrelated tokens rarely match
    val (p3, r3, _) = got(3L)
    assert(p3 == 1.0)  // every candidate token has an exact ref match
    assert(r3 < 1.0)   // ref tokens gamma/delta unmatched at full similarity
  }

  test("M2 BertScore greedy-match formula on hand vectors") {
    import graft.core.BertScore
    val e1 = Array(1f, 0f); val e2 = Array(0f, 1f)
    // cand [e1], ref [e1, e2]: P = 1.0, R = mean(1.0, 0.0) = 0.5, F = 2/3
    val (p, r, f) = BertScore.greedyMatch(Array(e1), Array(e1, e2))
    assert(p == 1.0 && r == 0.5)
    assert(math.abs(f - 2.0 / 3.0) < 1e-12)
    assert(BertScore.greedyMatch(Array.empty, Array(e1)) == ((0.0, 0.0, 0.0)))
  }

  test("M1/M3/M5 pairMetrics: identical pair scores 1.0 on rouge and cosine") {
    val pairs = Seq((1L, "same summary text", "same summary text"),
      (2L, "alpha beta", "gamma delta")).toDF("doc_id", "gen", "ref")
    val m = Metrics.pairMetrics(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(math.abs(m(1L).getAs[Double]("rouge1_f") - 1.0) < 1e-9)
    assert(math.abs(m(1L).getAs[Double]("semantic_similarity") - 1.0) < 1e-6)
    assert(m(2L).getAs[Double]("rouge1_f") == 0.0)
  }

  test("G6 summaryStats: long-format mean/std/min/max (population std)") {
    val metrics = Seq((1L, 0.2), (2L, 0.4), (3L, 0.6)).toDF("doc_id", "m")
    val s = Metrics.summaryStats(metrics, Seq("m")).collect().head
    assert(s.getAs[String]("metric") == "m")
    assert(math.abs(s.getAs[Double]("mean") - 0.4) < 1e-9)
    // population std of {0.2,0.4,0.6} = sqrt(2/75) = 0.1633
    assert(math.abs(s.getAs[Double]("std") - 0.1633) < 1e-4)
    assert(s.getAs[Double]("min") == 0.2 && s.getAs[Double]("max") == 0.6)
  }

  test("G7 similarityHistogram buckets and percentages") {
    val metrics = Seq(0.9, 0.8, 0.5, 0.1).toDF("semantic_similarity")
    val got = Metrics.similarityHistogram(metrics).collect()
      .map(r => r.getAs[String]("bucket") -> (r.getAs[Long]("n"), r.getAs[Double]("pct")))
      .toMap
    assert(got("high") == (2L, 50.0))
    assert(got("moderate") == (1L, 25.0))
    assert(got("low") == (1L, 25.0))
  }

  test("M4 judgeMetrics: verdicts with pass flag; stats aggregate") {
    val pairs = Seq(
      (1L, "alpha beta gamma delta", "alpha beta gamma delta"), // full coverage
      (2L, "unrelated words", "alpha beta gamma delta"))        // no coverage
      .toDF("doc_id", "gen", "ref")
    val judged = Metrics.judgeMetrics(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passed")).toMap
    assert(judged == Map(1L -> true, 2L -> false))
    val stats = Metrics.judgeStats(Metrics.judgeMetrics(pairs)).collect().head
    assert(stats.getAs[Long]("n_pairs") == 2L)
    assert(stats.getAs[Long]("n_passed") == 1L)
    assert(stats.getAs[Long]("n_failures") == 0L)
    assert(stats.getAs[Double]("pass_rate") == 0.5)
    // G-Eval-shaped rubric blocks: pair 1 covers all source vocab
    // (correctness 1.0), pair 2 none (0.0); both summaries have no repeated
    // tokens (coherence 1.0)
    assert(stats.getAs[Double]("corr_mean") == 0.5)
    assert(stats.getAs[Double]("corr_min") == 0.0 &&
      stats.getAs[Double]("corr_max") == 1.0)
    assert(stats.getAs[Double]("coh_mean") == 1.0)
  }

  test("G8 bestModelPerMetric: argmax with deterministic tie-break") {
    val stats = Seq(
      ("rouge1", "model_a", 0.5), ("rouge1", "model_b", 0.7),
      ("rouge2", "model_a", 0.3), ("rouge2", "model_b", 0.3))
      .toDF("metric", "model", "mean")
    val got = Metrics.bestModelPerMetric(stats).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[String]("best_model")).toMap
    assert(got("rouge1") == "model_b")
    assert(got("rouge2") == "model_b") // tie -> lexicographically larger model
  }
}

/** Test summarizer that shows what it was given: the input wrapped in
  * angle brackets with newlines made visible, so a golden pins the exact
  * text each level handed to the model.
  */
object MarkSummarizer extends graft.llm.Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    "<" + text.replace("\n", "/") + ">"
}

/** Test summarizer whose four-token output reports its input: its
  * nesting level `dK` (one more than the deepest level it was given),
  * token count, newline count and first token.
  */
object ReportSummarizer extends graft.llm.Summarizer {
  override def summarize(text: String, maxTokens: Int): String = {
    val toks = Text.wsTokens(text)
    val level = toks.collect { case t if t.matches("d[0-9]+") => t.tail.toInt }
      .maxOption.getOrElse(0) + 1
    s"d$level ${toks.length} ${text.count(_ == '\n')} ${toks.headOption.getOrElse("-")}"
  }
}
