package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's input contract: a seed names one
  * input exactly, and its ground truth must agree with what the inputs
  * contain. Run with `sbt test` in perfbench/. */
class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(Gen.c2v(7).lines == Gen.c2v(7).lines)
    assert(Gen.c2v(7).lines != Gen.c2v(8).lines)
    val (b1, b2, b3) = (Gen.bow(7), Gen.bow(7), Gen.bow(8))
    assert(b1.submissionLines == b2.submissionLines && b1.commentLines == b2.commentLines)
    assert(b1.commentLines != b3.commentLines)
    val (a1, a2, a3) = (Gen.app(7), Gen.app(7), Gen.app(8))
    assert(a1.vectors.map(_.toSeq) == a2.vectors.map(_.toSeq) && a1.planted == a2.planted)
    assert(a1.vectors.map(_.toSeq) != a3.vectors.map(_.toSeq))
    assert(Gen.appRequest(7, 3, a1) == Gen.appRequest(7, 3, a2))
    assert(Gen.appRequest(7, 3, a1) != Gen.appRequest(7, 4, a1))
  }

  test("c2v ground truth: every subreddit has a planted community, contexts pass the filters") {
    val d = Gen.c2v(3)
    assert(d.community.size == d.params.subreddits)
    assert(d.community.values.toSet == (0 until d.params.communities).toSet)
    assert(d.lines.exists(_.contains("\"u_")) && d.lines.exists(_.contains("[deleted]")))
    assert(d.lines.exists(l => !l.endsWith("}"))) // malformed lines are present
    assert(d.expectedCount > 100)
    d.expectedContexts.foreach { row =>
      val Array(ctx, len) = row.split("\t")
      val subs = ctx.split(" ")
      assert(subs.length == len.toInt && subs.length >= 2)
      assert(subs.toSeq == subs.sorted.toSeq)
      assert(subs.forall(s => d.community.contains(s)), "profiles and unknown subreddits are filtered")
    }
  }

  test("the top-5% cut keeps percent rank <= 0.95, ties at their lowest rank") {
    val counts = (1 to 20).map(i => s"a$i" -> i).toMap
    assert(Gen.keepBelowTopPercent(counts, 0.05) == counts.keySet - "a20")
    val tied = Map("a" -> 1, "b" -> 5, "c" -> 5)
    assert(Gen.keepBelowTopPercent(tied, 0.05) == Set("a", "b", "c"))
  }

  test("bow ground truth: planted topic per thread, windowed thread set") {
    val d = Gen.bow(3)
    assert(d.topicOf.size == d.params.threads)
    assert(d.expectedDocs > d.params.threads / 2 && d.expectedDocs < d.params.threads)
    assert(d.expectedThreads.subsetOf(d.topicOf.keySet))
    // hot threads are really hot
    val perThread = d.commentLines.flatMap(l => "\"link_id\":\"(t3_[a-z0-9]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
      .groupBy(identity).map(_._2.size)
    assert(perThread.max >= d.params.hotComments * 9 / 10)
  }

  test("app requests: subsets of the vocabulary") {
    val d = Gen.app(3)
    (-4 until 20).foreach { i =>
      val subset = Gen.appRequest(3, i, d)
      assert(subset.size > d.words.size / 5 && subset.size < d.words.size * 4 / 5)
      assert(subset.toSet.subsetOf(d.words.toSet))
    }
  }

  test("planted structure has as many groups as the k the workloads fit") {
    assert(Gen.C2vParams().communities == Params.k(Gen.C2vParams().topN))
    assert(Gen.BowParams().topics == Params.k(Gen.BowParams().topN))
    assert(Gen.AppParams().clusters == Params.k(Gen.AppParams().words))
  }
}
