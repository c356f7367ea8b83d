package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DriverBudget

/**
 * Connected components over an undirected edge list — the clustering step a
 * dedup pipeline runs after LSH pair generation (pairs only say "a ~ b";
 * training-data dedup needs whole duplicate CLUSTERS so it can keep one
 * canonical document per cluster and drop the rest). The reference ships pair
 * generation but leaves grouping to the caller; at 100 TB the grouping is the
 * hard part, so it is a first-class operator here.
 *
 * The edges are canonicalised once (long endpoints, no null endpoints, no
 * self-loops), cached, and counted exactly. The count picks one of two
 * regimes; both give the same components.
 *
 * Driver regime (count ≤ [[DriverEdgeCap]]): the edges whose endpoints are
 * both vertices are collected in one bounded job, and a union-find on the
 * driver (union by smaller id, path halving) roots every component at its
 * minimum id. The result is `vertices` left-joined to a broadcast
 * (vertex → root) map of the non-root vertices; every other vertex keeps
 * its own id. A handful of Spark jobs in all, whatever the diameter: on
 * small graphs the cost of label propagation is job scheduling, not graph
 * work. The cap is [[graft.DriverBudget]] over [[DriverBytesPerEdge]], the
 * measured driver heap per collected edge.
 *
 * Distributed regime (count > cap): iterative min-label propagation with
 * pointer jumping. Every vertex starts labeled with its own id; each round sets
 *   label(v) <- min(label(v), min over neighbors u of label(u))   (hash join)
 *   label(v) <- label(label(v))                                   (pointer jump)
 * The neighbor step alone needs O(diameter) rounds; the pointer jump contracts
 * label chains so convergence is O(log diameter) — near-dup clusters are
 * shallow (a hub crawl dup cluster has diameter ~2-4), so 3-6 rounds in
 * practice. Every round is two keyed shuffles (edges are re-used, labels are
 * small), and `localCheckpoint` cuts the lineage so the plan does not grow
 * with the iteration count (the classic iterative-DataFrame OOM).
 *
 * Scale notes: labels are one row per vertex — orders of magnitude smaller
 * than the corpus — and the edge list is shuffled on src once per round.
 * No step ever materializes a component in one task, so a degenerate giant
 * component (everything near-dups everything) degrades to more rounds, not
 * to an executor OOM. On a real cluster prefer `sc.setCheckpointDir` +
 * reliable checkpoints over localCheckpoint for fault tolerance.
 */
object ConnectedComponents {

  /** Peak heap per canonical edge of the driver regime: the smallest -Xmx
    * that solves an E-edge perfect matching (the worst case: two distinct
    * endpoints and one non-root per edge) in a local[2] session, less that
    * for 1k edges, over E — 480 B at both 1M and 2M edges (JDK 17, G1).
    * Heap-after-GC readings put the collected endpoints at 17 B and the
    * union-find peak at 63 B; the rest is the (vertex → root) rows (85 B
    * retained) and the copies and broadcast relation Spark builds from
    * them. A local session's driver also holds the executor's cache and
    * shuffle buffers, so this over-counts a cluster driver. */
  private[graft] val DriverBytesPerEdge: Long = 480L

  /** Largest canonical edge count solved on the driver (559,240 edges). */
  private[graft] val DriverEdgeCap: Long = DriverBudget.collectBytes / DriverBytesPerEdge

  /**
   * @param vertices one column: the vertex id (cast to LongType)
   * @param edges    two columns (src, dst); treated as undirected, self-loops,
   *                 duplicates and null endpoints are fine. An edge counts
   *                 only when both endpoints are in `vertices`.
   * @param maxIter  round cap of the distributed regime; with pointer jumping
   *                 25 rounds covers any graph of diameter < 2^25. Exhausting
   *                 it means labels are only PARTIALLY propagated — that is an
   *                 error, not a result, so `run` throws rather than silently
   *                 returning wrong components (downstream canonical election
   *                 would split clusters).
   * @return (id, component), one row per vertex row, where component = min
   *         vertex id in the component; isolated vertices keep their own id
   */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame =
    run(vertices, edges, maxIter, DriverEdgeCap)

  /** [[run]] with the driver-regime cap as an argument, so specs can force
    * either regime on small graphs. */
  private[graft] def run(vertices: DataFrame, edges: DataFrame, maxIter: Int,
      driverEdgeCap: Long): DataFrame = {
    val idCol = vertices.columns.head
    val Seq(srcCol, dstCol) = edges.columns.take(2).toSeq
    val ids = vertices.select(col(idCol).cast("long").as("id"))
    // a null endpoint makes the comparison null, so the filter drops it too;
    // cached so the count and either regime evaluate the input once
    val canon = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .persist()
    val labels =
      try {
        // an RDD count is one job; Dataset.count adds a shuffle stage for the aggregate
        if (canon.rdd.count() <= driverEdgeCap) onDriver(ids, canon)
        else propagate(ids, canon, maxIter)
      } finally canon.unpersist()
    labels.withColumnRenamed("id", idCol).withColumnRenamed("comp", "component")
  }

  /** Driver regime: collect the in-graph edges, union-find, broadcast the
    * non-root vertices' roots. */
  private def onDriver(ids: DataFrame, canon: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // an edge with an endpoint outside `vertices` is ignored, as in the
    // distributed regime, where such an endpoint never gets a label
    val v = ids.select(col("id").as("v"))
    val (nonRoots, roots) = minRoots(canon.join(v, col("src") === col("v"), "left_semi")
      .join(v, col("dst") === col("v"), "left_semi")
      .rdd.mapPartitions { rows =>
        val b = Array.newBuilder[Long]
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect())
    ids.join(broadcast(nonRoots.zip(roots).toSeq.toDF("id", "root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
  }

  /**
   * Union-find over endpoint pairs (each array holds src, dst, src, dst, …):
   * union by smaller id and path halving, so every root is its component's
   * minimum id. Returns the vertices that are not roots and their roots.
   */
  private[graft] def minRoots(endpoints: Array[Array[Long]]): (Array[Long], Array[Long]) = {
    val ids = Array.concat(endpoints.toIndexedSeq: _*)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    // vertices are indices into the sorted distinct ids: smaller index = smaller id
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var j = x
      while (parent(j) != j) { parent(j) = parent(parent(j)); j = parent(j) }
      j
    }
    for (pairs <- endpoints) {
      var j = 0
      while (j < pairs.length) {
        val a = find(java.util.Arrays.binarySearch(ids, 0, n, pairs(j)))
        val b = find(java.util.Arrays.binarySearch(ids, 0, n, pairs(j + 1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        j += 2
      }
    }
    val nonRoots = Array.newBuilder[Long]
    val roots = Array.newBuilder[Long]
    i = 0
    while (i < n) {
      val r = find(i)
      if (r != i) { nonRoots += ids(i); roots += ids(r) }
      i += 1
    }
    (nonRoots.result(), roots.result())
  }

  /** Distributed regime: min-label propagation with pointer jumping. */
  private def propagate(ids: DataFrame, canon: DataFrame, maxIter: Int): DataFrame = {
    val und = canon.union(canon.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // edges are reused every round: evaluate once

    var labels = ids.withColumn("comp", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = und.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min("comp").as("nbr_min"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"))
      // pointer jump: follow comp one hop (comp <- label(comp)); labels(id)
      // always exists because comp only ever takes existing vertex ids
      val jumped = stepped.join(
          labels.select(col("id").as("comp"), col("comp").as("jump")), Seq("comp"), "left")
        .select(col("id"), col("old"),
          least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"))
        .localCheckpoint()
      converged = jumped.filter(col("comp") =!= col("old")).isEmpty
      labels = jumped.select("id", "comp")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within maxIter=$maxIter rounds; " +
          "labels are partially propagated. Raise maxIter (each round is two " +
          "keyed shuffles; pointer jumping needs only O(log diameter) rounds).")
    labels
  }
}
