package graft

import graft.operators.Vocab
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class VocabSpec extends SparkSpec {

  private def toks(ws: String*) =
    df("token STRING", ws.map(Row(_)): _*)

  private def tmp(name: String) =
    tempDir(s"graft_vocab_spec_$name") + "/vocab"

  private def vocabMap(p: String) =
    Vocab.read(spark, p).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("build: frequency order, dense ids; append never reassigns") {
    val p = tmp("stable")
    // counts: b=3, a=2, c=1 -> b=0, a=1, c=2
    Vocab.build(toks("a", "b", "b", "a", "b", "c"), "token", p)
    val v1 = vocabMap(p)
    assert(v1 == Map("b" -> 0L, "a" -> 1L, "c" -> 2L), v1.toString)
    // append: 'a' and 'c' exist (ids frozen); d=2, e=1 get 3, 4.
    Vocab.append(toks("d", "a", "d", "e", "c"), "token", p, "b1")
    val v2 = vocabMap(p)
    assert(v2 == v1 ++ Map("d" -> 3L, "e" -> 4L), v2.toString)
    // a second append continues above the first's ceiling
    Vocab.append(toks("f"), "token", p, "b2")
    assert(vocabMap(p)("f") == 5L)
    // committed ids are exactly-once per batch id
    intercept[IllegalArgumentException] {
      Vocab.append(toks("g"), "token", p, "b1")
    }
    // an all-known append mints nothing and does not move the ceiling
    Vocab.append(toks("a", "b"), "token", p, "b3")
    Vocab.append(toks("h"), "token", p, "b4")
    assert(vocabMap(p)("h") == 6L)
  }

  test("torn append is invisible; retry replaces the orphan ids") {
    val p = tmp("torn")
    Vocab.build(toks("x", "y"), "token", p)
    val before = vocabMap(p)
    // tokens on disk under batch=bX with NO ledger row: invisible
    df("token STRING, id BIGINT", Row("z", Long.box(99)))
      .withColumn("batch", lit("bX")).coalesce(1)
      .write.mode("append").partitionBy("batch").parquet(p)
    assert(vocabMap(p) == before, "uncommitted ids must be invisible")
    // the retry drops the orphan rows and mints the REAL next id
    Vocab.append(toks("z"), "token", p, "bX")
    assert(vocabMap(p)("z") == 2L, "retry must replace the orphan id 99")
    assert(vocabMap(p) == before + ("z" -> 2L))
  }

  test("append respects the writer lock (colliding ids excluded)") {
    val p = tmp("lock")
    Vocab.build(toks("a"), "token", p)
    val lock = new java.io.File(p + ".merge-lock")
    java.nio.file.Files.writeString(lock.toPath, "pid=1 app=other")
    sys.props("graft.lockWaitMs") = "200" // lease-less: waited out, refused
    try intercept[graft.operators.Upsert.ConcurrentWriterException] {
      Vocab.append(toks("b"), "token", p, "b1")
    } finally sys.props.remove("graft.lockWaitMs")
    assert(lock.delete())
    Vocab.append(toks("b"), "token", p, "b1")
    assert(vocabMap(p)("b") == 1L)
  }
}
