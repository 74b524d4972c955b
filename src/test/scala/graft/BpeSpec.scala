package graft

import graft.operators.Bpe
import org.apache.spark.sql.Row

class BpeSpec extends SparkSpec {

  // The classic BPE teaching corpus: hug x10, pug x5, pun x12, bun x4,
  // hugs x5 — pair counts are hand-computable.
  private def corpus = df("text STRING",
    Row((List.fill(10)("hug") ++ List.fill(5)("pug") ++
      List.fill(12)("pun") ++ List.fill(4)("bun") ++
      List.fill(5)("hugs")).mkString(" ")))

  test("pairCounts weights each adjacent symbol pair by its word's count") {
    val got = Bpe.pairCounts(Bpe.vocab(corpus, "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "h u" -> 15L,  // hug(10) + hugs(5)
      "u g" -> 20L,  // hug(10) + pug(5) + hugs(5)
      "p u" -> 17L,  // pug(5) + pun(12)
      "u n" -> 16L,  // pun(12) + bun(4)
      "b u" -> 4L,   // bun(4)
      "g s" -> 5L    // hugs(5)
    ), s"got $got")
  }
}
