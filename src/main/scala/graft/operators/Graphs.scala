package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation — the rank signal web-scale
  * corpus pipelines propagate over the hyperlink graph (PageRank /
  * harmonic-centrality style prioritization of what to crawl and keep;
  * the reference has no graph surface, this is pipeline-extension
  * territory like [[Dedup.duplicateComponents]]).
  *
  * Scale shape: ranks stay a DISTRIBUTED (node, rank) frame end to end —
  * never collected. Each iteration is one equi-join of the edge list with
  * the current ranks (both shuffled on the node key; at 100 TB the edge
  * list is pre-bucketed on `src` so the join co-locates) plus one
  * dst-keyed hash aggregation with map-side partials. T iterations =
  * T join+agg rounds; lineage is truncated per round with
  * `localCheckpoint` — the same fixed-point pattern as the
  * label-propagation path that [[Dedup.duplicateComponents]] takes for
  * a pair graph too large to close on the driver.
  *
  * Determinism: per-edge contributions `rank(u)/outdeg(u)` round to 8dp
  * and sum in DECIMAL per destination — order-free under any
  * partitioning — and the update `(1−d)/n + d·s` is fixed-
  * parenthesization double arithmetic, so an oracle replaying the same
  * T iterations in SQL reproduces every rank bit-for-bit.
  */
object Graphs {

  /** Fixed-iteration PageRank over an (src, dst) edge list.
    *
    * Contract (the variant the oracle replays): node set = src ∪ dst;
    * uniform init 1/n; per-iteration
    * `rank'(v) = (1−d)/n + d · Σ_{u→v} round(rank(u)/outdeg(u), 8)`
    * with the sum in DECIMAL(28,8). Dangling mass (nodes with no
    * out-edges) is dropped, not redistributed — ranks are a
    * prioritization signal here, not a probability distribution, and the
    * drop keeps every step one join+agg with no extra global pass.
    *
    * @return (node, rank) for every node in the graph */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               checkpointInterval: Int = 8): DataFrame = {
    require(iters > 0 && damping > 0 && damping < 1 && checkpointInterval > 0)
    // pinned: the edge list is re-joined every iteration — materialize
    // it once (standard practice for iterative graph passes; at scale
    // this is the checkpoint every Pregel-style loop pays)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true) // reused every iteration + sizes the init
    val n = nodes.count().toDouble
    require(n > 0, "pageRank needs a non-empty edge list")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      .localCheckpoint(true) // static across iterations
    var ranks = nodes.select(col("node"), (lit(1.0) / lit(n)).as("rank"))
    for (i <- 1 to iters) {
      val contrib = e
        .join(ranks.join(outdeg, col("node") === col("src"), "inner")
          .select(col("src").as("__u"),
            round(col("rank") / col("__deg"), 8).as("__c")),
          col("src") === col("__u"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c").cast("decimal(28,8)")).as("__s"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("__s").cast("double"), lit(0.0)))
            .as("rank"))
      // PERIODIC lineage truncation, not per-round: each rank frame is
      // referenced exactly once by the next round, so an unpinned chain
      // executes every subtree once anyway (e/nodes/outdeg stay pinned
      // above) — pinning every round just pays one extra job per
      // iteration. Long chains still truncate every `checkpointInterval`
      // rounds so the plan never grows past Catalyst comfort and a lost
      // executor never replays the whole history. Values are unchanged
      // either way (checkpointing is pure materialization).
      if (i % checkpointInterval == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
  }
}
