package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames — the family
  * [[Dedup.connectedComponents]] (pointer-jumping CC) and q146's
  * fixed-iteration PageRank started, rounded out with the other two
  * staples a data pipeline reaches for: triangle counting (clustering
  * structure, spam/bot subgraph detection) and label propagation
  * (community detection for content-farm / mirror-cluster discovery).
  *
  * Scale design (100 TB of edges):
  *  - Triangle counting uses DEGREE ORIENTATION (the standard
  *    distributed algorithm — e.g. Suri & Vassilvitskii, WWW'11): each
  *    undirected edge is directed from its (degree, id)-smaller
  *    endpoint to the larger, which bounds every vertex's out-degree
  *    by O(√m) regardless of skew — the hub vertex that would
  *    otherwise generate |N(hub)|² wedges generates almost none,
  *    because nearly all its edges point INTO it. Wedges are then one
  *    self-join on the wedge apex, closed by one join against the
  *    oriented edge list. No vertex ever materializes its full
  *    neighbor list in memory.
  *  - Label propagation runs synchronous fixed-iteration rounds (the
  *    deterministic variant: argmax neighbor-label count, ties to the
  *    smallest label — no randomized tie-breaks, so retries and
  *    engines agree). Each round is one shuffle keyed on the edge dst
  *    plus one bounded top-1-per-vertex selection on the same
  *    bounded-heap plan as every other top-k here ([[TopK.perGroup]]),
  *    never a per-vertex window sort.
  */
object Graph {

  /** Per-vertex triangle counts over an undirected graph given as
    * canonical edges (a < b, distinct, no self-loops or nulls).
    * Returns (v, n_tri); vertices in no triangle are absent. Every
    * triangle contributes exactly 1 to each of its three corners: the
    * degree-oriented enumeration produces each triangle once, with its
    * corners ordered by the (degree, id) total order.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // (degree, id) rank carried as a comparable struct; orient edge
    // toward the larger endpoint under that order.
    def rk(d: Column, v: Column): Column = struct(d.as("d"), v.as("v"))
    val ranked = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), rk(col("da"), col("a")).as("ra"),
        rk(col("db"), col("b")).as("rb"))
    val oriented = ranked.select(
      when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("u"),
      when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("w"),
      when(col("ra") < col("rb"), col("rb")).otherwise(col("ra")).as("rw"))
      .localCheckpoint(true)
    // Wedges at apex u: pairs of out-neighbors (y ≺ z); close with the
    // oriented edge y→z. Each triangle x≺y≺z appears exactly once.
    val e1 = oriented.select(col("u"), col("w").as("y"), col("rw").as("ry"))
    val e2 = oriented.select(col("u"), col("w").as("z"), col("rw").as("rz"))
    val wedges = e1.join(e2, Seq("u")).filter(col("ry") < col("rz"))
    val closing = oriented.select(col("u").as("y"), col("w").as("z"))
    val tris = wedges.join(closing, Seq("y", "z"))
      .select(col("u").as("x"), col("y"), col("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
  }

  /** Synchronous label propagation, `iters` fixed rounds, labels
    * initialized to the vertex id. Deterministic update: each vertex
    * adopts the neighbor label with the highest count, ties to the
    * smallest label; a vertex with no neighbors keeps its label
    * (cannot happen over a canonical edge list, where every vertex
    * has degree ≥ 1). Returns (v, label).
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // Both directions once: messages flow src→dst over this list.
    val directed = edges.select(col("a").as("s"), col("b").as("t"))
      .unionAll(edges.select(col("b"), col("a")))
      .localCheckpoint(true)
    var labels = directed.select(col("s").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
    for (_ <- 1 to iters) {
      val counted = directed
        .join(labels.select(col("v").as("s"), col("label")), "s")
        .groupBy(col("t").as("v"), col("label"))
        .agg(count(lit(1)).as("n"))
      // Checkpoint each round (the connectedComponents precedent):
      // without it round N's plan embeds all N-1 prior join+top-1
      // stages and analysis/codegen cost grows superlinearly.
      labels = TopK.perGroup(counted, Seq("v"),
          Seq(col("n").desc, col("label").asc), 1)
        .select(col("v"), col("label"))
        .localCheckpoint(true)
    }
    labels
  }
}
