package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class ScaleUpSpec extends AnyFunSuite {
  import SparkTestSession._

  private def toks(text: String): Seq[String] =
    text.split("\\s+").filter(_.nonEmpty).toSeq

  test("byteneutral amplification: rep 0 verbatim, replicas disjoint, entropy floored") {
    import spark.implicits._
    // a short-token-heavy corpus — exactly where the un-floored remap
    // (16/256-value spaces for 1-2 char tokens) breaks disjointness
    val src = Seq(
      (1L, "a b c aa bb a longerword test", "en", "web", 29L),
      (2L, "x y z a b xy yz word different", "en", "web", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val amp = ScaleUp.documents(src, factor = 3, textMode = "byteneutral")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(amp.size == 6)
    // rep 0 is the original corpus verbatim
    assert(amp(3L) == "a b c aa bb a longerword test")
    assert(amp(6L) == "x y z a b xy yz word different")
    val reps = Seq(amp(4L), amp(5L)) // doc 1's rep 1 and rep 2
    // tokens are length-preserving above the floor, floored at 4 below it
    toks(amp(4L)).zip(toks(amp(3L))).foreach { case (r, o) =>
      assert(r.length == math.max(o.length, 4),
        s"remap of '$o' must be max(len,4) chars, got '$r'")
    }
    // equal source tokens remap equally within a rep (density preserved) ...
    val r1 = toks(amp(4L))
    assert(r1(0) == r1(5), "the two 'a' tokens must remap identically in rep 1")
    // ... but differently ACROSS reps, and never collide with rep 0
    val rep0Tokens = (toks(amp(3L)) ++ toks(amp(6L))).toSet
    reps.foreach { r =>
      assert(toks(r).toSet.intersect(rep0Tokens).isEmpty,
        "replica tokens must share nothing with rep 0")
    }
    assert(toks(amp(4L)).toSet.intersect(toks(amp(5L)).toSet).isEmpty,
      "rep 1 and rep 2 token sets must be disjoint (hash keys on rep)")
    // the floor's purpose: even 1-char tokens land in a >=4-hex-char
    // space, so distinct source tokens stay distinct after remap
    val distinctSrc = toks(amp(3L)).distinct.size
    assert(toks(amp(4L)).distinct.size == distinctSrc,
      "distinct source tokens must stay distinct after the floored remap")
  }

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox", "en", "web", 19L),
      (2L, "a b  c", "fr", "books", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("prefix amplification: rep 0 verbatim, replicas lead with a sha256 preamble") {
    import spark.implicits._
    val amp = ScaleUp.documents(corpus, factor = 3)
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect()
      .map { case (id, t, l) => id -> (t, l) }.toMap
    assert(amp.keySet == Set(3L, 4L, 5L, 6L, 7L, 8L), "ids remap to doc_id*factor+rep")
    assert(amp(3L) == ("the quick brown fox", "en"))
    assert(amp(6L) == ("a b  c", "fr"))
    val preambles = for ((src, base) <- Seq(("the quick brown fox", 3L), ("a b  c", 6L));
                         rep <- 1 to 2) yield {
      val (text, _) = amp(base + rep)
      val (head, rest) = (toks(text).head, toks(text).tail)
      assert(head.matches("[0-9a-f]{64}"), s"replica must lead with a sha256 hex token: '$head'")
      assert(rest == toks(src).map(t => s"r${rep}_$t"),
        s"replica $rep tokens must be the source tokens prefixed r${rep}_")
      head
    }
    assert(preambles.distinct.size == preambles.size, "one preamble per (doc, rep)")
    assert(amp(4L)._2 == "en" && amp(8L)._2 == "fr", "other columns are copied")
  }

  test("verbatim amplification: text identical, ids remapped id*factor+rep") {
    import spark.implicits._
    val amp = ScaleUp.documents(corpus, factor = 4, textMode = "verbatim")
      .as[(Long, String, String, String, Long)].collect()
    val src = corpus.as[(Long, String, String, String, Long)].collect()
    val expected = for ((id, t, l, so, n) <- src; rep <- 0 until 4)
      yield (id * 4 + rep, t, l, so, n)
    assert(amp.sortBy(_._1).toSeq == expected.sortBy(_._1).toSeq)
  }

  test("an unknown text mode is refused") {
    intercept[IllegalArgumentException](ScaleUp.documents(corpus, 2, textMode = "rotate"))
  }
}
