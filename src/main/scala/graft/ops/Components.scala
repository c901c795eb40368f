package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components over an undirected edge list by iterative min-label
 * propagation — turns near-dup PAIRS (MinHash/SimHash/Jaccard output) into
 * dedup CLUSTERS with a canonical representative per cluster.
 *
 * Each iteration is one distributed join+agg; the driver only checks the
 * converged-count (a scalar) between iterations. Min-label propagation
 * advances one hop per round, so convergence takes O(component diameter)
 * iterations — fine for dup clusters (near-cliques, 2-3 rounds); raise
 * maxIter for long-chain graphs. Non-convergence at maxIter is loudly
 * reported on stderr rather than silently returning split components.
 * At 100 TB this is the standard big-graph CC recipe short of
 * GraphX/Pregel, with no driver-side state proportional to data.
 */
object Components {

  /** edges(a, b) -> (id, component) where component = min id reachable.
    * Nodes = every id appearing in the edge list. */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          maxIter: Int = 50): DataFrame = {
    // symmetric neighbor list (plus self-loops so isolated endpoints keep a label)
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // localCheckpoint each iteration: truncates the logical plan so
    // analysis cost stays constant per round (a persisted-but-unchecked
    // iterative plan grows super-linearly in planning time)
    var labels = sym.select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label per node = min(own, min over neighbors' labels)
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("component").as("n_comp"))
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") < col("old")).count()
      releaseCheckpoint(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] connectedComponents did NOT converge after $maxIter iterations — " +
          "component labels may be split; raise maxIter (diameter-bound rounds needed)")
    sym.unpersist()
    labels
  }

  /** Min-hop BFS depths from `root` over a DIRECTED (child, parent) edge
    * list: depth(root) = 0, depth(n) = 1 + min over n's parents — the
    * ontology-level statistic (hops up is_a/part_of to the root), but the
    * recipe is generic for any big edge list. Level-synchronous
    * frontier expansion: each round is one distributed join + a min-agg
    * union (the connectedComponents discipline — localCheckpoint per round
    * keeps planning cost constant, the only driver value is the changed
    * count, convergence in O(DAG depth) rounds, loud non-convergence).
    * Nodes unreachable from the root are absent from the output. */
  def bfsDepths(spark: SparkSession, edges: DataFrame, root: String,
                childCol: String = "child", parentCol: String = "parent",
                maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    val e = edges.select(col(childCol).as("c"), col(parentCol).as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var depths = Seq((root, 0)).toDF("id", "depth").localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val via = e.join(depths.withColumnRenamed("id", "p"), "p")
        .select(col("c").as("id"), (col("depth") + 1).as("depth"))
      val next = depths.unionByName(via)
        .groupBy("id").agg(min("depth").as("depth"))
        .localCheckpoint(true)
      val changed = next.join(depths.withColumnRenamed("depth", "old"), Seq("id"), "left")
        .filter(col("old").isNull || col("depth") < col("old")).count()
      depths = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] bfsDepths did NOT converge after $maxIter iterations — " +
          "depths may exceed true minima; raise maxIter (DAG-depth rounds needed)")
    e.unpersist()
    depths
  }

  /** Drops the blocks behind a frame's local checkpoints. They are
    * registered as persisted RDDs, not in the cache manager, so
    * `Dataset.unpersist()` does not reach them; a superseded iterate holds
    * them until the JVM collects it. Only for frames no longer read: the
    * checkpoint IS the data, there is no lineage to recompute it from. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed
      .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Dedup clusters from a near-dup pair table: every doc mapped to its
    * cluster representative (min id), cluster sizes attached. */
  def dupClusters(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(spark, pairs)
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("representative"),
        col("cluster_size"))
      .orderBy("representative", "doc_id")
  }
}
