package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkInternals}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PipelineConfig
import graft.llm.ExtractiveSummarizer
import graft.operators.{Sinks, TreeOps}
import graft.strategy.{Hierarchical, Strategies}

/** The Q2/Q3/Q5 per-document folds: no driver-side loop (building the
  * plan runs no job; the job count does not grow with collapse rounds)
  * and nothing left cached once the outputs are written.
  */
class CollapseFoldSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = PipelineConfig(
    chunkSize = 6, chunkOverlap = 0, tokenMax = 10,
    maxSummaryTokens = 4, maxCollapseRounds = 10,
    maxCritiqueIterations = 2, byTokens = true, chunker = "token_window")

  /** A doc of `n` six-token chunks. */
  private def doc(id: Long, n: Int): (Long, String) =
    id -> (1 to 6 * n).map(i => s"t$i").mkString(" ")

  private def jobsDuring(f: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    SparkInternals.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { f; SparkInternals.drainListenerBus(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("building mapReduce / mapReduceCritique submits no Spark job") {
    val st = new Strategies(ExtractiveSummarizer, cfg = cfg)
    val docs = Seq(doc(1L, 8), doc(2L, 3)).toDF("doc_id", "text")
    assert(jobsDuring { st.mapReduce(docs); st.mapReduceCritique(docs) } == 0)
  }

  test("job count does not grow with collapse rounds") {
    // ReportSummarizer's summaries are four tokens and name their level,
    // so at tokenMax 10: 3 chunks -> one round (final "d3"), 8 chunks ->
    // two rounds ("d4"), 1 chunk -> none ("d2")
    val st = new Strategies(ReportSummarizer, cfg = cfg)
    def run(n: Int): (Int, String) = {
      var out = ""
      val jobs = jobsDuring {
        out = st.mapReduce(Seq(doc(1L, n)).toDF("doc_id", "text"))
          .as[(Long, String)].collect().head._2
      }
      (jobs, out.split(" ").head)
    }
    val (none, one, two) = (run(1), run(3), run(8))
    assert((none._2, one._2, two._2) == (("d2", "d3", "d4")))
    assert(one._1 == two._1 && none._1 == one._1, (none, one, two))
  }

  test("no cached relation or persisted RDD outlives a written output") {
    val sc = spark.sparkContext
    val docs = Seq(doc(1L, 8), doc(2L, 3),
      3L -> "First sentence here. Second one there. Third. Fourth again.")
      .toDF("doc_id", "text")
    val st = new Strategies(ExtractiveSummarizer, cfg = cfg)
    val outputs: Seq[(String, () => DataFrame)] = Seq(
      "mapreduce" -> (() => st.mapReduce(docs)),
      "critique" -> (() => st.mapReduceCritique(docs)),
      "hierarchical" -> (() =>
        new Hierarchical(ExtractiveSummarizer, cfg).summarize(TreeOps.synthesize(docs))))
    val dir = java.nio.file.Files.createTempDirectory("graft_fold").toString
    outputs.foreach { case (name, out) =>
      val rdds = sc.getPersistentRDDs.keySet
      val cached = SparkInternals.cachedRelations(spark)
      Sinks.writeSummaryTable(out(), s"$dir/$name")
      assert(spark.read.parquet(s"$dir/$name").count() == 3L, name)
      assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, s"$name left a persisted RDD")
      assert(SparkInternals.cachedRelations(spark) == cached, s"$name left a cached relation")
    }
  }
}
