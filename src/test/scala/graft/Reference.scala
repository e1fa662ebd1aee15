package graft

import graft.catalog.Lake
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Straight-line reference implementations that the specs compare the
  * registered operators against. They are not on any query path. */
object Reference {

  /** Connected components over an undirected pair list (doc_a, doc_b)
    * by min-label propagation — the reference for
    * `Dedup.connectedComponentsStar`:
    * returns (u, lbl) where lbl is the smallest node id reachable from
    * u. Iterative min-label propagation; labels only decrease, so the
    * fixpoint test is a stable sum(lbl) — one scalar action per hop.
    * Converges in component-diameter iterations, bounded by maxIters. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    var labels = edges
      .select(col("u"))
      .distinct()
      .select(col("u"), col("u").as("lbl"))
      .localCheckpoint(false)
    // sum over ZERO rows is SQL null: an empty pair list must read as
    // checksum 0, not NPE (the star variant's checksum already does).
    def checksum(df: DataFrame): Long = {
      val r = df.agg(sum("lbl")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = checksum(labels)
    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("u").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy("u")
        .agg(min("vlbl").as("nlbl"))
      labels = labels
        .join(neighborMin, Seq("u"), "left")
        .select(
          col("u"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")
        )
        .localCheckpoint(false)
      val s = checksum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    labels
  }

  /** graph06 as a DataFrame loop over `Graph.pagerankMicro` — the
    * reference that `Graph.graph06PagerankKernel` must equal
    * bit-for-bit, and the shape a pure-SQL consumer would run. */
  def graph06Pagerank(lake: Lake, iters: Int = 5, topK: Int = 20): DataFrame = {
    // The loop runs on LONG node ids (customer -> 2k, supplier -> 2k+1),
    // not the display strings: 5 iterations of join+groupBy each hash,
    // shuffle and compare the node key, and an 8-byte long beats a
    // variable-length "c12345" string in every one of those. The
    // 'c'/'s' labels are re-derived once, on the topK output.
    val pairs = lake.lineitem
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(lake.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("o_custkey * 2L").as("a"),
        expr("l_suppkey * 2L + 1L").as("b")
      )
      // repartition-before-distinct (round 14, same memory bound as
      // the rank loop): the distinct's partial aggregate would
      // otherwise share the fact-join stage's memory with ~unique
      // (a, b) keys across 32 concurrent tasks
      .repartition(col("a"), col("b"))
      .distinct()
      // Materialize before bidirecting: the union below references
      // `pairs` twice, and without the checkpoint the fact join +
      // distinct execute once per branch.
      .localCheckpoint()
    val edges = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    Graph.pagerankMicro(edges, iters)
      .select(
        expr(
          "IF(node % 2 = 0, concat('c', node div 2), concat('s', (node - 1) div 2))"
        ).as("node"),
        col("r")
      )
      .orderBy(col("r").desc, col("node"))
      .limit(topK)
      .select(col("node"), col("r").as("rank_micro"))
  }
}
