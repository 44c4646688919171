package graft.core

/** G3: exact greedy consecutive bin-packing (SURVEY.md §2.5).
  *
  * Reproduces the reference's `split_list_of_docs` semantics (used at
  * runners/run_summarization_ollama_mapreduce.py:131-133): walk the ordered
  * list, accumulate items into the current bin while the bin total stays
  * <= tokenMax; an item that would overflow starts a new bin; a single item
  * larger than tokenMax still occupies its own bin.
  *
  * Note this is NOT the window cumsum/floor approximation — greedy resets
  * the running total at each bin boundary (SURVEY.md §7.4.2). The exact
  * version runs inside `flatMapGroups` per document; chunk counts per doc
  * are bounded by doc size / chunk size, so per-group state is small.
  */
object BinPack {

  /** Assign consecutive bin ids (0-based) to an ordered sequence of weights. */
  def greedyBins(weights: Seq[Long], budget: Long): Seq[Int] = {
    require(budget > 0, "budget must be positive")
    var bin = 0
    var cur = 0L
    var first = true
    weights.map { w =>
      if (!first && cur + w > budget) { bin += 1; cur = w }
      else { cur += w }
      first = false
      bin
    }
  }

  /** Pack items carrying payloads; returns (payload, binId) preserving order. */
  def pack[T](items: Seq[T], weight: T => Long, budget: Long): Seq[(T, Int)] =
    items.zip(greedyBins(items.map(weight), budget))

  /** One document's chunks greedy-packed in (chunk_idx, n_tokens) order,
    * each bin's texts joined with `sep` in that order: the per-group body
    * of `CorpusOps.binPackConcat` and of the strategies' collapse fold.
    */
  def packConcat(chunks: Seq[Chunk], budget: Long, sep: String = "\n\n"): Vector[PackedBin] = {
    val sorted = chunks.sortBy(c => (c.chunk_idx, c.n_tokens))
    val out = Vector.newBuilder[PackedBin]
    val text = new java.lang.StringBuilder
    var bin = -1
    var tokens = 0L
    var first = 0
    def flush(): Unit = if (bin >= 0) out += PackedBin(bin, text.toString, tokens, first)
    pack[Chunk](sorted, _.n_tokens, budget).foreach { case (c, b) =>
      if (b == bin) { text.append(sep).append(c.text); tokens += c.n_tokens }
      else {
        flush()
        bin = b; tokens = c.n_tokens; first = c.chunk_idx
        text.setLength(0); text.append(c.text)
      }
    }
    flush()
    out.result()
  }
}

/** One packed bin: id, joined text, summed weight, first chunk index. */
final case class PackedBin(bin: Int, text: String, tokens: Long, firstIdx: Int)
