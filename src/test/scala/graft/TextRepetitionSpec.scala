package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextKernels
import graft.queries.Registry

/** t6's duplicate-bigram ratio on hand-made documents, pinned in the
  * unit suite (the oracle compare runs outside it): exact counts for
  * repeats and degenerate texts, and whitespace handling that matches
  * [[TextKernels.toks]]. PlanShapeSpec cross-checks t6 against t12 on
  * the sf0.001 corpus.
  */
class TextRepetitionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("t6 on hand-made documents: repeats, degenerate texts, and whitespace tokenize like TextKernels.toks") {
    val texts = Seq(1L -> "a b a b", 2L -> "", 3L -> "one",
      4L -> "  A  b   a B  ", 5L -> " x  y   z ", 6L -> "\tq r q")
    val dir = java.nio.file.Files.createTempDirectory("graft_t6").toString
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Registry.queries("t6_repetition")(spark, dir)
      .select("doc_id", "n_bigrams", "n_distinct", "rep_e6")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, n, nd, rep) => id -> (n, nd, rep) }.toMap
    assert(got(1L) == ((3L, 2L, 333333L)))
    assert(got(2L) == ((0L, 0L, 0L)))
    assert(got(3L) == ((0L, 0L, 0L)))
    texts.foreach { case (id, text) =>
      val bg = TextKernels.toks(text).toSeq.sliding(2)
        .collect { case Seq(a, b) => s"$a $b" }.toSeq
      val (n, nd) = (bg.size.toLong, bg.distinct.size.toLong)
      val rep = if (n == 0) 0L else (n - nd) * 1000000L / n
      assert(got(id) == ((n, nd, rep)), s"doc $id: '$text'")
    }
  }
}
