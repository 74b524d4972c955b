package graft

/** Dev tool: print the physical plan of any registered query.
  * Usage: runMain graft.Explain <name> [sfDir] [k=v ...]
  * Trailing k=v args are applied with spark.conf.set before the query
  * is built — lets a session setting (e.g.
  * spark.sql.autoBroadcastJoinThreshold=-1) dump its before/after plans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q32_lsh_pairs"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val s = Engine.local(8)
    args.drop(2).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      s.conf.set(k, v)
    }
    SparkEntry.queries(name)(s, dir).explain("formatted")
    s.stop()
  }
}
