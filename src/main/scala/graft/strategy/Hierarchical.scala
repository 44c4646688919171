package graft.strategy

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{PipelineConfig, SparkText, TreeNode}
import graft.llm.Summarizer

/** Q5 Hierarchical strategy (SURVEY.md §2.3; reference:
  * runners/run_summarization_ollama_mapreduce_hierarchical.py:277-315).
  *
  * Bottom-up over the adjacency-list node table, deepest level first. At
  * depth d every non-Paragraph node's children (all Paragraphs by the loop
  * invariant — deeper levels were collapsed in earlier rounds) are
  * concatenated in order and summarized, and the node + subtree is replaced
  * by ONE title-prefixed Paragraph at depth d (reference subtree
  * replacement :232-239, title preservation :250-271, empty-body handling
  * :255-258). Functional rewrite, never in-place: kept nodes ∪ new
  * paragraphs (SURVEY.md §7.4.3).
  *
  * Scale notes: the levels are walked per document, in memory, inside one
  * task (the reference's `collapse_level` walk stays inside one document
  * too): one shuffle on doc_id, then one fold per doc. The start level is
  * corpus-wide — one max(depth) probe, as in the reference (:281-285) — so
  * a leaf Header above the deepest level of the corpus is collapsed as an
  * empty section. Trade-off: one document's sections are summarized in one
  * task; per-group state is one doc's node list.
  */
final class Hierarchical(
    summarizer: Summarizer,
    cfg: PipelineConfig = PipelineConfig()) extends Serializable {

  // chunk cap at 75% of the context budget (reference :176-179)
  private val capTokens = math.max((cfg.tokenMax * 3) / 4, cfg.maxSummaryTokens)

  private def summarizeText(t: String): String =
    if (t == null) "" else summarizer.summarize(t, cfg.maxSummaryTokens)

  /** Texts of sibling nodes joined in (ord, node_id, text) order. */
  private def joinOrdered(nodes: Seq[TreeNode]): String = {
    val order = Ordering.Tuple3(Ordering.Int, Ordering.Long, SparkText.ordering)
    SparkText.arrayJoin(nodes.sortBy(n => (n.ord, n.node_id, n.text))(order).map(_.text), "\n\n")
  }

  /** One document's bottom-up collapse from level `maxDepth - 1` to 1,
    * then the root gather + final summarize + whitespace polish (reference
    * :296-313). None when the doc has no depth-1 node.
    */
  private def collapseDoc(nodes: Seq[TreeNode], maxDepth: Int): Option[String] = {
    var live = nodes
    var d = maxDepth - 1
    while (d >= 1) {
      // every depth d+1 node hangs under a depth-d parent; paragraph
      // parents have no children, so grouping by parent covers exactly
      // the sections
      val sections = live.filter(_.depth == d + 1).groupBy(_.parent_id)
      val newParas = live.collect {
        case n if n.depth == d && n.node_type != null && n.node_type != "Paragraph" =>
          // a Header without children is an empty section
          val body = sections.get(n.node_id).fold("")(joinOrdered)
          n.copy(node_type = "Paragraph", text = SparkText.concat(n.text, "\n\n",
            summarizeText(SparkText.truncateTokens(body, capTokens))))
      }
      // keep: everything above d, plus Paragraphs already at d; all depth
      // d+1 nodes are consumed, deeper ones no longer exist
      live = live.filter(n => n.depth < d ||
        (n.depth == d && n.node_type == "Paragraph")) ++ newParas
      d -= 1
    }
    val top = live.filter(_.depth == 1)
    Option.when(top.nonEmpty)(SparkText.squeezeWhitespace(
      summarizeText(SparkText.truncateTokens(joinOrdered(top), capTokens))))
  }

  /** Run the full bottom-up collapse; returns (doc_id, summary). */
  def summarize(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // One shuffle on doc_id into a fixed partition count (an RDD shuffle,
    // so AQE does not coalesce the model-call-heavy groups into one task).
    // The depth probe's job writes it and the fold's job reads it back, so
    // the tree source is built once and nothing is left cached.
    val byDoc = nodes.select(col("doc_id").cast("long"), col("node_id").cast("long"),
        col("parent_id").cast("long"), col("depth").cast("int"), col("node_type"),
        col("text"), col("ord").cast("int"))
      .as[TreeNode].rdd
      .groupBy((n: TreeNode) => n.doc_id, spark.sessionState.conf.numShufflePartitions)
    val maxDepth = byDoc.values.map(_.iterator.map(_.depth).max).fold(0)(math.max)
    byDoc.flatMap { case (docId, ns) => collapseDoc(ns.toVector, maxDepth).map(docId -> _) }
      .toDF("doc_id", "summary")
  }
}
