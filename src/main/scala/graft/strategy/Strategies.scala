package graft.strategy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{BinPack, Chunk, PipelineConfig, SparkText}
import graft.functions.{tokenCount => tokenCountCol}
import graft.llm.{CoverageJudge, Judge, Summarizer}
import graft.operators.CorpusOps

/** The five summarization strategies (SURVEY.md §2.3 Q1-Q5) as DataFrame
  * programs over a pluggable [[Summarizer]] scalar.
  *
  * Input contract: `docs` has (doc_id: long, text: string). Output:
  * (doc_id, summary).
  *
  * Scale notes:
  *  - Parallelism is per-chunk for map stages and per-doc for folds; no
  *    stage ever materializes a whole corpus on one node.
  *  - After the chunk-parallel map stage, Q2/Q3 run everything else (the
  *    collapse rounds and the final reduce) as one per-document fold: one
  *    shuffle on doc_id, then one task walks the doc's rounds in memory.
  *    Building the plan runs no Spark job, and the pass runs the same jobs
  *    however many rounds a doc needs; the reference's `should_collapse`
  *    loop is per-document too.
  *  - Trade-off: one document's collapse bins are summarized in one task,
  *    not spread across tasks. Per-group state is one doc's chunk
  *    summaries, the same bound [[CorpusOps.binPackConcat]] and
  *    [[iterative]] have.
  */
final class Strategies(
    summarizer: Summarizer,
    judge: Judge = CoverageJudge(),
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  private val summarizeUdf = udf(summarizeText _)

  /** Q1 Truncated: token-truncate the doc to the context budget, one
    * summarize call (reference: runners/run_summarization_ollama.py:8-37).
    * Narrow-only plan: scan -> project. Context budget mirrors the
    * reference's max_context - max_new_tokens (16384-2048) scaled to cfg.
    */
  def truncated(docs: DataFrame): DataFrame = {
    val contextBudget = math.max(cfg.tokenMax - cfg.maxSummaryTokens, cfg.maxSummaryTokens)
    docs.select(
      col("doc_id"),
      summarizeUdf(graft.functions.truncateTokens(
        graft.functions.cleanThinking(col("text")), contextBudget)).as("summary"))
  }

  /** One map round: summarize every chunk in parallel (the reference's
    * `Send` fan-out, runners/run_summarization_ollama_mapreduce.py:109-112).
    */
  private def mapSummarize(chunks: DataFrame): DataFrame =
    chunks
      .withColumn("text", summarizeUdf(col("text")))
      .withColumn("n_tokens", tokenCountCol(col("text")))
      .select("doc_id", "chunk_idx", "text", "n_tokens")

  private def summarizeText(t: String): String =
    if (t == null) "" else summarizer.summarize(t, cfg.maxSummaryTokens)

  /** The per-document fold after the map stage (reference:
    * runners/run_summarization_ollama_mapreduce.py:130-164). While the
    * doc's summaries exceed `loopBudget` tokens (predicate
    * `should_collapse`, :147-154) and fewer than maxCollapseRounds rounds
    * ran (recursion_limit 10): greedy-pack them at tokenMax, join each bin
    * in chunk order and `reduce` each bin. Then `reduce` the in-order join
    * of what is left. Token counts and joins use the exact twins of the
    * Column forms ([[SparkText]]), so a collapsed summary is counted the
    * way the map stage counts its summaries.
    */
  private def collapseFold(mapped: DataFrame, loopBudget: Long,
      reduce: String => String): DataFrame = {
    val spark = mapped.sparkSession
    import spark.implicits._
    val tokenMax = cfg.tokenMax.toLong
    val maxRounds = cfg.maxCollapseRounds
    val order = Ordering.Tuple2(Ordering.Int, SparkText.ordering)
    mapped.select(col("doc_id").cast("long"), col("chunk_idx").cast("int"),
        col("text"), col("n_tokens").cast("long"))
      // a fixed partition count, which AQE leaves alone: these rows are a
      // few bytes each but carry the collapse rounds' model calls, so
      // coalescing them by size would run the whole fold in one task
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .groupBy(col("doc_id")).as[Long, Chunk]
      .mapGroups { (docId: Long, it: Iterator[Chunk]) =>
        var cur: Seq[Chunk] = it.toVector
        var round = 0
        while (round < maxRounds && cur.iterator.map(_.n_tokens).sum > loopBudget) {
          cur = BinPack.packConcat(cur, tokenMax).map { b =>
            val s = reduce(b.text)
            Chunk(docId, b.bin, s, SparkText.tokenCount(s))
          }
          round += 1
        }
        val texts = cur.sortBy(c => (c.chunk_idx, c.text))(order).map(_.text)
        (docId, reduce(SparkText.arrayJoin(texts, "\n\n")))
      }
      .toDF("doc_id", "summary")
  }

  /** Q2 Map-Reduce: split -> parallel map-summarize -> per-doc collapse
    * and final reduce (reference graph:
    * runners/run_summarization_ollama_mapreduce.py:75-180).
    */
  def mapReduce(docs: DataFrame): DataFrame =
    collapseFold(mapSummarize(CorpusOps.chunkDocs(docs, cfg)), cfg.tokenMax.toLong,
      summarizeText)

  /** One reduce with critique: reduce -> critique -> conditional refine,
    * bounded by maxCritiqueIterations (reference `_reduce_with_critique`,
    * runners/run_summarization_ollama_mapreduce_critique.py:224-265; verdict
    * gate :253-255).
    */
  private def reduceWithCritique(source: String): String =
    if (source == null) ""
    else {
      // prepared scalars: the source is analyzed (sentence-scored /
      // tokenized) ONCE per row; each retry iteration only re-selects under
      // the widened budget and tokenizes the new short candidate
      val summarize = summarizer.prepared(source)
      val critique = judge.preparedCritique(source)
      var budget = cfg.maxSummaryTokens
      var s = summarize(budget)
      var it = 0
      while (it < cfg.maxCritiqueIterations &&
             !critique(s).contains(Judge.NoIssues)) {
        budget = budget + math.max(budget / 2, 1) // widen budget and retry
        s = summarize(budget)
        it += 1
      }
      s
    }

  /** Q3 Map-Reduce + Critique: the Q2 fold with every reduce (collapse
    * bins and the final one) replaced by [[reduceWithCritique]], and the
    * reference's half-budget headroom check (:315) as the loop predicate:
    * tokenMax/2. The critique loop is per-reduce local logic, so it runs
    * inside the fold's task; were the scalar remote-LLM-backed, the gate
    * would batch only failing reduces.
    */
  def mapReduceCritique(docs: DataFrame): DataFrame =
    collapseFold(mapSummarize(CorpusOps.chunkDocs(docs, cfg)),
      math.max(cfg.tokenMax / 2, 1).toLong, reduceWithCritique)

  /** Q4 Iterative refinement: summary_0 = summarize(chunk_0);
    * summary_i = summarize(summary_{i-1} ++ chunk_i) — an inherently
    * sequential per-doc fold (reference:
    * runners/run_summarization_ollama_iterative.py:102-187). Parallel across
    * docs, serial within a doc (by design; SURVEY.md §7.4.1). State per
    * group = one rolling summary (bounded).
    */
  def iterative(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = CorpusOps.chunkDocs(docs, cfg)
    val s = summarizer
    val budget = cfg.maxSummaryTokens
    chunks.select(col("doc_id").cast("long"), col("chunk_idx").cast("int"), col("text"))
      .as[(Long, Int, String)]
      .groupByKey(_._1)
      .mapGroups { (docId: Long, it: Iterator[(Long, Int, String)]) =>
        val ordered = it.toVector.sortBy(_._2)
        val summary = ordered.foldLeft("") { (acc, chunk) =>
          if (acc.isEmpty) s.summarize(chunk._3, budget)
          else s.summarize(acc + "\n\n" + chunk._3, budget)
        }
        (docId, summary)
      }
      .toDF("doc_id", "summary")
  }
}
