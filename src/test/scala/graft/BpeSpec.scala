package graft

import org.apache.spark.sql.functions._
import graft.ops.Bpe
import graft.queries.TextQueries

class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  test("train: argmax merge order and simultaneous adjacent merging") {
    // vocab: "abab" x2, "ab" x1 — pair counts round 1: (a,b)=5, (b,a)=2
    val wc = Seq(("abab", 2L), ("ab", 1L)).toDF("word", "wn")
    val merges = Bpe.train(wc, nMerges = 2)
    assert(merges === Seq(("a", "b"), ("ab", "ab")),
      "first merge a+b must rewrite BOTH ab pairs of abab in one round " +
        "(canonical BPE simultaneity), making (ab,ab) the round-2 argmax")
    val toks = Seq("abab", "ab", "ba", "abba").toDF("word")
      .select(col("word"),
        Bpe.tokenCount(Bpe.applyMerges(col("word"), merges)).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(toks === Map("abab" -> 1, "ab" -> 1, "ba" -> 2, "abba" -> 3),
      "abba = [ab,b,a]: the merged ab must not false-match across the " +
        "b|b boundary")
  }

  test("train: deterministic tiebreak and pair exhaustion") {
    // "ab" and "cd" tie at count 1 -> lexicographic picks (a,b) first;
    // 2-char words exhaust after both merges despite nMerges=10
    val wc = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "wn")
    val merges = Bpe.train(wc, nMerges = 10)
    assert(merges === Seq(("a", "b"), ("c", "d")))
  }

  test("corpus bpe: compression > 1, words conserved, deterministic") {
    val dir = "/root/testdata/sf0.01"
    val a = TextQueries.qBpeTokenize(spark, dir,
      TextQueries.bpeModelFor(spark, dir)).collect()
    val b = TextQueries.qBpeTokenize(spark, dir,
      TextQueries.bpeModelFor(spark, dir)).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === 500)
    val meanComp = a.map(_.getAs[Double]("compression")).sum / a.length
    assert(meanComp > 1.5, s"mean compression too low: $meanComp")
    a.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"),
        "a word is at least one token")
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars"),
        "merging never exceeds char-level token count")
      assert(r.getAs[Double]("compression") > 1.25,
        s"64 merges on a 30-word vocab should compress every doc: $r")
    }
    // the ws-token count oracle cross-check: n_words == q_token_count's
    val ws = TextQueries.qTokenCount(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ws_tokens")).toMap
    a.foreach(r => assert(r.getAs[Long]("n_words") ===
      ws(r.getAs[Long]("doc_id"))))
  }
}
