package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The large-star/small-star CC core, driven with synthetic graphs the
  * fixture can't produce: a long chain (the diameter case the algorithm
  * exists for), a multi-component forest checked against the min-label
  * propagation core, and the star-forest fixpoint contract. */
class TwophaseCcSpec extends SparkSpec {

  private def edges(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val e = pairs.toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("chain graph: every node collapses to the chain minimum") {
    // a 40-long path: label propagation needs ~40 supersteps; the
    // star-contraction loop must land the same answer in far fewer rounds
    val chain = edges((0L until 40L).map(i => (i, i + 1)))
    val out = Dedup.twophaseCc(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 41)
    assert(out.values.forall(_ == 0L), s"chain must collapse to 0: $out")
  }

  test("multi-component forest agrees with min-label propagation") {
    // three components of different shapes: a triangle, a chain, a star
    val g = edges(Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),            // triangle
      (20L, 21L), (21L, 22L), (22L, 23L),            // chain
      (30L, 31L), (30L, 32L), (30L, 33L), (30L, 34L) // star (hub NOT min)
    ).map { case (a, b) => (b, a) })                  // feed reversed: order-free
    val two = Dedup.twophaseCc(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val one = graft.operators.GraphOps.minLabelCc(g, "dedup_cc_minlabel", 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(two == one, s"algorithms disagree: ${two.diff(one)} / ${one.diff(two)}")
    assert(two.count(_._2 == 10L) == 3 && two.count(_._2 == 20L) == 4 &&
      two.count(_._2 == 30L) == 5)
  }

  test("dedup_span_removal: planted shared run removed, unique docs untouched (r9)") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"shared$i").mkString(" ") // 10-token dup run
    val docs = Seq(
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"one two three $run four"),
      (3L, "totally unique words that repeat nowhere else at all ok")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpanRemovalOver(spark, docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 3 is untouched: zero removed, clean text == its own tokens
    assert(out(3L).getInt(2) == 0)
    assert(out(3L).getString(3) ==
      m("totally unique words that repeat nowhere else at all ok"))
    // docs 1/2: every window covering ONLY shared tokens is duplicated;
    // the removed set is the union of dup windows — the shared run goes,
    // and with it any boundary tokens captured by covering windows. The
    // spec pins the strongest portable facts: all 10 shared tokens are
    // gone (clean text contains none), docs lost at least 10 tokens, and
    // the surviving text is a subsequence of the original.
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getInt(2) >= 10, s"doc $id removed ${out(id).getInt(2)}")
      assert(out(id).getInt(2) < out(id).getInt(1), "must not remove everything")
    }
    // exact rebuild check for doc 2: windows of 8 tokens over 15 tokens
    // with positions 4..13 shared — dup windows are those fully inside the
    // shared run: starts 4..6 wait, a window is duplicated iff its HASH
    // repeats; windows mixing unique+shared tokens differ between docs.
    // For doc 2 (one two three s1..s10 four), dup windows start at 4,5,6
    // hold s1..s8, s2..s9, s3..s10 → covered positions 4..13: exactly the
    // shared run. Clean = "one two three four".
    assert(out(2L).getInt(2) == 10)
    assert(out(2L).getString(3) == m("one two three four"))
  }

  test("production key: one row per doc, keeper iff component minimum") {
    val out = Dedup.dedupCcTwophase(spark, sfDir).collect()
    val n = graft.model.Tables.load(spark, sfDir, "documents").count()
    assert(out.length == n, "must label every document exactly once")
    assert(out.forall(r => r.getBoolean(2) == (r.getLong(0) == r.getLong(1))))
    // at least one real multi-doc cluster exists on the fixture
    assert(out.exists(r => !r.getBoolean(2)), "no dup cluster found at all")
  }
}
