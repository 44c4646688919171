package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PipelineConfig, Text}
import graft.eval.Metrics
import graft.llm.{ContextualEmbedder, CoverageJudge, ExtractiveSummarizer, Judge, Summarizer,
  TinyTransformer}
import graft.operators.{CorpusOps, Sinks, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** Outcome of the output checks on a pass's outputs: `attempted`
  * operations (per-doc summaries, per-pair rows), how many of them are
  * wrong, what was wrong, and a fingerprint of the outputs.
  */
final case class Checked(attempted: Long, failed: Long, problems: Seq[String],
    fingerprint: String)

/** One workload: its inputs, one pass of layer calls the way the CLI
  * drives the library, the checks on what a pass wrote, and the probes a
  * traced run adds after the measured passes.
  */
trait Workload {
  def name: String
  /** Writes `main` and `warm` inputs under `dir`; returns main's manifest. */
  def generate(dir: Path, seed: Long): Gen.Manifest
  def pass(spark: SparkSession, t: Tracer, in: Path, out: Path): Unit
  def check(spark: SparkSession, in: Path, out: Path): Checked
  /** Layers the pass only runs fused with others, each timed alone on
    * inputs that are already computed and cached. Writes only under
    * `scratch`.
    */
  def probe(spark: SparkSession, in: Path, scratch: Path): Map[String, Double]
  /** Full passes run first and not reported, while the JIT still compiles
    * code the warm-up input did not make hot.
    */
  def warmPasses: Int = 1

  protected def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => { md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) })
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Median wall seconds of `reps` runs of `f`. */
  protected def timeMedian(reps: Int)(f: => Unit): Double =
    Stats.median(Seq.fill(reps) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })

  /** Median wall seconds of forcing every column of `df` (noop sink). */
  protected def force(df: DataFrame): Double =
    timeMedian(3)(df.write.format("noop").mode("overwrite").save())
}

object Workload {
  def all: Seq[Workload] = Seq(new LongdocSummarize, new EvalReport)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (${all.map(_.name).mkString("|")})"))

  val Strategies5 = Seq("truncated", "mapreduce", "critique", "iterative", "hierarchical")

  /** The CLI's text-directory reader: doc ids are the filename hash. */
  def loadTextDir(spark: SparkSession, dir: Path): DataFrame =
    CorpusOps.docsFromTextDir(spark, dir.toString)
      .withColumn("doc_id", xxhash64(col("doc_name")))
      .select(col("doc_id"), col("text"))
}

/** The paper's job at production settings, as `pipeline --approach <s>`
  * runs it for each of the five strategies: in-process extractive
  * summarizer and coverage judge, `PipelineConfig()`, each summary table
  * written with `Sinks.writeSummaryTable`.
  */
final class LongdocSummarize extends Workload {
  val name = "longdoc_summarize"
  // its passes still sped up by a tenth from the second pass to the third
  override val warmPasses = 2
  private val cfg = PipelineConfig()
  // twice the cores of a 4-core host, so the per-doc stages run in parallel
  private val mainDocs = 8
  private val meanTokens = 24000

  def generate(dir: Path, seed: Long): Gen.Manifest = {
    val lex = new Gen.Lexicon(seed)
    // the recursive splitter's chunks advance by about chunkSize - overlap
    val stride = cfg.chunkSize - cfg.chunkOverlap
    // one five-chunk warm-up doc: five chunk summaries overflow tokenMax,
    // so the warm-up reaches every path of a pass, collapse rounds included
    Gen.longDocs(dir.resolve("warm"), seed + 1000, lex, 1, 4 * stride, stride)
    Gen.longDocs(dir.resolve("main"), seed, lex, mainDocs, meanTokens, stride)
  }

  def pass(spark: SparkSession, t: Tracer, in: Path, out: Path): Unit = {
    val docs = Workload.loadTextDir(spark, in)
    val judge: Judge = if (t.enabled) new CountingJudge(CoverageJudge()) else CoverageJudge()
    Workload.Strategies5.foreach { s =>
      val summ: Summarizer =
        if (t.enabled) new CountingSummarizer(ExtractiveSummarizer, s) else ExtractiveSummarizer
      val st = new Strategies(summ, judge, cfg)
      val summaries = t.layer("strategy", s) {
        s match {
          case "truncated" => st.truncated(docs)
          case "mapreduce" => st.mapReduce(docs)
          case "critique" => st.mapReduceCritique(docs)
          case "iterative" => st.iterative(docs)
          case "hierarchical" => new Hierarchical(summ, cfg).summarize(TreeOps.synthesize(docs))
        }
      }
      t.layer("operators", s"sinks.writeSummaryTable[$s]")(
        Sinks.writeSummaryTable(summaries, out.resolve(s).toString))
    }
  }

  /** Longest summary a strategy may emit: critique widens its budget by
    * half on each retry.
    */
  private def budget(s: String): Int =
    if (s != "critique") cfg.maxSummaryTokens
    else (0 until cfg.maxCritiqueIterations).foldLeft(cfg.maxSummaryTokens)(
      (b, _) => b + math.max(b / 2, 1))

  def check(spark: SparkSession, in: Path, out: Path): Checked = {
    val ids = Workload.loadTextDir(spark, in).select("doc_id").collect().map(_.getLong(0)).toSet
    val problems = Seq.newBuilder[String]
    var bad = 0L
    val lines = Workload.Strategies5.flatMap { s =>
      val rows = spark.read.parquet(out.resolve(s).toString)
        .select(col("doc_id"), col("summary")).collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
      val byId = rows.groupBy(_._1)
      ids.foreach { id =>
        val ok = byId.get(id) match {
          case Some(Array((_, sum))) =>
            val n = Text.tokenCount(sum)
            if (n == 0 || sum.trim.isEmpty) { problems += s"$s: doc $id has an empty summary"; false }
            else if (n > budget(s)) { problems += s"$s: doc $id summary has $n > ${budget(s)} tokens"; false }
            else true
          case Some(many) => problems += s"$s: doc $id has ${many.length} summaries"; false
          case None => problems += s"$s: doc $id has no summary"; false
        }
        if (!ok) bad += 1
      }
      val extra = byId.keySet -- ids
      if (extra.nonEmpty) { bad += extra.size; problems += s"$s: ${extra.size} unknown doc ids" }
      rows.sortBy(_._1).map { case (id, sum) => s"$s\t$id\t$sum" }
    }
    Checked(ids.size.toLong * Workload.Strategies5.size, bad, problems.result(),
      sha256(lines.iterator))
  }

  def probe(spark: SparkSession, in: Path, scratch: Path): Map[String, Double] = {
    val docs = Workload.loadTextDir(spark, in)
    val chunkS = force(CorpusOps.chunkDocs(docs, cfg))
    val chunks = CorpusOps.chunkDocs(docs, cfg).persist()
    val nChunks = chunks.count()
    val binS = force(CorpusOps.binPackConcat(chunks, cfg.tokenMax.toLong))
    chunks.unpersist()
    // the sink alone: a computed summary table written again
    val summaries = new Strategies(ExtractiveSummarizer, CoverageJudge(), cfg)
      .truncated(docs).persist()
    summaries.count()
    val writeS = timeMedian(5)(
      Sinks.writeSummaryTable(summaries, scratch.resolve("summaries").toString))
    summaries.unpersist()
    Map("operators.chunk_s" -> chunkS,
      "operators.chunks_per_doc" -> nChunks.toDouble / mainDocs,
      "operators.binpack_s" -> binS,
      "sinks.write_s" -> writeS)
  }
}

/** The evaluation half: `evaluate --tx-bertscore` over generated and
  * reference summaries, plus the judge columns, into one JSON report.
  */
final class EvalReport extends Workload {
  val name = "eval_report"
  private val pairsN = 48
  private val MetricCols = Seq("semantic_similarity", "rouge1_f", "rouge2_f", "rougeL_f")
  private val ScoreCols = MetricCols ++ Seq("tx_bert_p", "tx_bert_r", "tx_bert_f",
    "correctness", "coherence")

  def generate(dir: Path, seed: Long): Gen.Manifest = {
    val lex = new Gen.Lexicon(seed)
    Gen.evalPairs(dir.resolve("warm"), seed + 1000, lex, 24)
    Gen.evalPairs(dir.resolve("main"), seed, lex, pairsN)
  }

  private def pairs(spark: SparkSession, in: Path): DataFrame = {
    def side(f: String, alias: String) =
      CorpusOps.docsFromJsonl(spark, in.resolve(f).toString)
        .select(col("doc_id"), col("text").as(alias))
    side("gen.jsonl", "gen").join(side("ref.jsonl", "ref"), "doc_id")
  }

  /** The report's inputs as the CLI builds them: every metric column, one
    * row per pair, and the statistics and histogram over them. The metric
    * calls only plan; their Spark work runs when the report is written.
    */
  private def reportInputs(p: DataFrame, t: Tracer, enc: ContextualEmbedder, judge: Judge)
      : (DataFrame, DataFrame, DataFrame) = {
    val metrics0 = t.layer("eval", "Metrics.pairMetrics")(Metrics.pairMetrics(p))
    val tx = t.layer("eval", "Metrics.bertScoreContextual")(
      Metrics.bertScoreContextual(p, enc)
        .withColumnRenamed("bert_p", "tx_bert_p")
        .withColumnRenamed("bert_r", "tx_bert_r")
        .withColumnRenamed("bert_f", "tx_bert_f"))
    val judged = t.layer("eval", "Metrics.judgeMetrics")(Metrics.judgeMetrics(p, judge))
    val metrics = metrics0.join(tx, Seq("doc_id"), "left")
      .join(judged.select("doc_id", "passed", "correctness", "coherence"), Seq("doc_id"), "left")
    val stats = t.layer("eval", "Metrics.summaryStats")(Metrics.summaryStats(metrics, MetricCols))
    val hist = t.layer("eval", "Metrics.similarityHistogram")(Metrics.similarityHistogram(metrics))
    (metrics, stats, hist)
  }

  def pass(spark: SparkSession, t: Tracer, in: Path, out: Path): Unit = {
    val enc = if (t.enabled) new CountingEncoder(TinyTransformer()) else TinyTransformer()
    val judge: Judge = if (t.enabled) new CountingJudge(CoverageJudge()) else CoverageJudge()
    val (metrics, stats, hist) = reportInputs(pairs(spark, in), t, enc, judge)
    t.layer("operators", "sinks.writeJsonReport")(Sinks.writeJsonReport(stats, hist,
      metrics.orderBy("doc_id"), out.resolve("report.json").toString))
  }

  def check(spark: SparkSession, in: Path, out: Path): Checked = {
    val ids = pairs(spark, in).select("doc_id").collect().map(_.getLong(0)).toSet
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("report.json").toFile)
    val rows = root.path("detailed_results").elements().asScala.toVector
    val problems = Seq.newBuilder[String]
    var bad = 0L
    val seen = rows.map(_.path("doc_id").asLong()).groupBy(identity)
    ids.foreach { id =>
      if (seen.get(id).forall(_.size != 1)) {
        bad += 1; problems += s"pair $id has ${seen.get(id).fold(0)(_.size)} report rows"
      }
    }
    rows.foreach { r =>
      val off = ScoreCols.filter { c =>
        val v = r.get(c)
        v == null || !v.isNumber || v.asDouble() < 0.0 || v.asDouble() > 1.0
      }
      if (off.nonEmpty) {
        bad += 1
        problems += s"pair ${r.path("doc_id").asLong()}: ${off.map(c => s"$c=${r.get(c)}").mkString(", ")} not in [0, 1]"
      }
    }
    val stats = root.path("summary_statistics").elements().asScala.map(_.toString).toVector
    if (stats.size != MetricCols.size) { bad += 1; problems += s"${stats.size} statistics rows" }
    val lines = rows.sortBy(_.path("doc_id").asLong()).map(_.toString) ++ stats.sorted ++
      root.path("similarity_distribution").elements().asScala.map(_.toString).toVector.sorted
    Checked(ids.size.toLong, bad, problems.result(), sha256(lines.iterator))
  }

  def probe(spark: SparkSession, in: Path, scratch: Path): Map[String, Double] = {
    val p = pairs(spark, in).persist()
    p.count()
    val alone = Map(
      "eval.pair_metrics_s" -> force(Metrics.pairMetrics(p)),
      "eval.bertscore_tx_s" -> force(Metrics.bertScoreContextual(p, TinyTransformer())),
      "eval.judge_s" -> force(Metrics.judgeMetrics(p)))
    // the sink alone: the report written again from computed metric rows
    val untraced = new Tracer(spark.sparkContext, false, "none")
    val metrics = reportInputs(p, untraced, TinyTransformer(), CoverageJudge())._1.persist()
    metrics.count()
    val writeS = timeMedian(5)(Sinks.writeJsonReport(
      Metrics.summaryStats(metrics, MetricCols), Metrics.similarityHistogram(metrics),
      metrics.orderBy("doc_id"), scratch.resolve("report.json").toString))
    metrics.unpersist(); p.unpersist()
    alone + ("sinks.write_s" -> writeS)
  }
}
