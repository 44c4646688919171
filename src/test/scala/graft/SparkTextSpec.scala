package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SparkText, Text}

/** The pure-Scala twins in [[SparkText]] agree with their Column forms on
  * hostile strings: edge whitespace that Spark's `trim` keeps (newline,
  * tab, vertical tab, NBSP, control chars), all-space strings, "" and null.
  */
class SparkTextSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val hostile: Seq[String] = Seq(
    "", " ", "   ", "a", "a b", "  a  b  ", "\na b\n", "\ta\t", "\n", "\n\n",
    "\r\n", " \n a \t b \n ", "a\u00A0b", "\u00A0a b\u00A0", "\u000Ba\u000B",
    "\u000B", "\u0001a b\u0002", "\u0000", "a\fb", "\u2003a\u2003", "x\u3000y",
    "a\u0085b", "\u001Ca", "Vi\u1EC7t  Nam  ", "\uD83D\uDE00 b \uD83D\uDE00", "\uE000 z")
  private val withNull: Seq[String] = hostile :+ null

  private def column[T: org.apache.spark.sql.Encoder](
      in: Seq[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[T] =
    in.zipWithIndex.toDF("s", "i").orderBy("i").select(f(col("s"))).as[T].collect().toSeq

  test("tokenCount twin: Spark trims only spaces and keeps trailing empty tokens") {
    assert(SparkText.tokenCount("\na b\n") == 4L && Text.tokenCount("\na b\n") == 2)
    assert(hostile.map(SparkText.tokenCount) ==
      column[Long](hostile, functions.tokenCount))
  }

  test("truncateTokens twin, every k, null in null out") {
    Seq(0, 1, 2, 3, 5, 100).foreach { k =>
      assert(withNull.map(SparkText.truncateTokens(_, k)) ==
        column[String](withNull, functions.truncateTokens(_, k)), s"k=$k")
    }
  }

  test("squeezeWhitespace twin, null in null out") {
    assert(withNull.map(SparkText.squeezeWhitespace) ==
      column[String](withNull, functions.squeezeWhitespace))
  }

  test("concat twin: any null part gives null") {
    assert(withNull.map(SparkText.concat(_, "\n\n", "x")) ==
      column[String](withNull, c => concat(c, lit("\n\n"), lit("x"))))
    assert(SparkText.concat("a", null) == null)
  }

  test("arrayJoin twin skips nulls; ordering is Spark's struct-field order") {
    val got = withNull.zipWithIndex.toDF("s", "i")
      .agg(array_join(transform(array_sort(collect_list(struct(lit(0).as("k"), col("s")))),
          x => x.getField("s")), "|").as("joined"),
        transform(array_sort(collect_list(struct(lit(0).as("k"), col("s")))),
          x => x.getField("s")).as("sorted"))
      .as[(String, Seq[String])].head()
    val sorted = withNull.sorted(SparkText.ordering)
    assert(got._2 == sorted)
    assert(got._1 == SparkText.arrayJoin(sorted, "|"))
    // code-point order: U+1F600 sorts after U+E000, unlike String.compareTo
    assert(SparkText.ordering.lt("\uE000", "\uD83D\uDE00") &&
      "\uE000".compareTo("\uD83D\uDE00") > 0)
  }
}
