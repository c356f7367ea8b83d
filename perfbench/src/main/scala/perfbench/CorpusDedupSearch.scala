package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.sim.Similarity
import graft.text.{Dedup, TextFunctions}

/**
 * corpus_dedup_search, stage 1: documents with planted near-duplicate clusters go
 * through quality signals → MinHash-LSH near-duplicate pairs → duplicate
 * clusters (connected components) → quality-aware representatives. Stage 2:
 * clustered embeddings answer held-out queries through the LSH, IVF and PQ
 * indexes.
 */
final class CorpusDedupSearch(dir: String, manifest: Manifest, truth: Truth) extends Workload {
  private val t = manifest.truth
  private val threshold = t.double("jaccard_threshold")
  private val k = t.int("k")
  /** every intra-cluster pair (id_a < id_b) → its exact shingle Jaccard */
  private val planted: Map[(Long, Long), Double] =
    truth.longs("planted_pairs", "id_a").lazyZip(truth.longs("planted_pairs", "id_b"))
      .lazyZip(truth.doubles("planted_pairs", "jaccard"))
      .map { case (a, b, j) => (a, b) -> j }.toMap
  /** query → its exact top-k neighbours by cosine */
  private val exactTopK: Map[Long, Set[Long]] =
    truth.longs("knn", "query_id").zip(truth.longs("knn", "neighbor_id"))
      .groupMap(_._1)(_._2).map { case (q, ns) => q -> ns.toSet }

  def run(rep: Rep, warmup: Boolean): RepStats = {
    val spark = rep.spark
    val nDocs = if (warmup) t.long("docs") / 10 else t.long("docs")
    val docs = spark.read.parquet(s"$dir/input/docs").filter(col("doc_id") <= nDocs)

    // ---- dedup
    val t0 = System.nanoTime()
    val (signals, nSignals) = rep.frame("text", "TextFunctions.qualitySignals")(
      TextFunctions.qualitySignals(docs))
    rep.check("quality signals: one row per document", nSignals == nDocs, s"$nSignals")

    val (pairsDf, pairs) = rep.collected("text", "Dedup.minhashNearDuplicates")(
      Dedup.minhashNearDuplicates(docs, k = t.int("shingle_k"), threshold = threshold))
    val (cand, verified) = verifyCounts(pairsDf)
    rep.figures("text.candidate_pairs") = cand.toDouble
    rep.figures("text.verified_pairs") = verified.toDouble
    rep.figures("text.verify_yield") = if (cand > 0) verified.toDouble / cand else 0.0
    val found = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val wrong = found.count { case (p, j) =>
      planted.get(p).forall(tj => tj < threshold || math.abs(tj - j) > 1e-6)
    }
    rep.items("near-duplicate pairs match planted pairs and exact Jaccard", found.size, wrong)
    val expected = planted.filter { case ((_, b), j) => j >= threshold && b <= nDocs }.keySet
    val pairRecall = expected.count(found.contains).toDouble / expected.size
    rep.figures("pair_recall") = pairRecall
    rep.check("pair recall >= 0.9", pairRecall >= 0.9, f"$pairRecall%.4f")

    val (_, clusters) = rep.collected("graph", "Dedup.dupClusters")(Dedup.dupClusters(docs, pairsDf))
    val component = components(clusters.map(_.getLong(0)), found.keys)
    val badCluster = clusters.count { r =>
      val id = r.getLong(0)
      r.getLong(1) != component(id) || r.getBoolean(2) != (id == component(id))
    }
    rep.items("clusters equal the components of the pairs", clusters.length, badCluster)

    val (_, reps) = rep.collected("text", "Dedup.clusterRepresentatives")(
      Dedup.clusterRepresentatives(signals, pairsDf, col("stopword_ratio")))
    val badReps = reps.groupBy(_.getLong(1)).count { case (cid, members) =>
      val best = members.minBy(r => (-qualityOf(r), r.getLong(0)))
      members.count(_.getBoolean(3)) != 1 || !best.getBoolean(3) ||
        members.exists(r => component(r.getLong(0)) != cid)
    }
    rep.items("one best representative per cluster", reps.map(_.getLong(1)).distinct.length,
      badReps)
    val dedupSeconds = (System.nanoTime() - t0) / 1e9

    // ---- nearest-neighbour search
    val nQueries = if (warmup) t.int("queries") / 10 else t.int("queries")
    val vectors = spark.read.parquet(s"$dir/input/vectors")
      .filter(col("vec_id") < (if (warmup) t.long("vectors") / 10 else Long.MaxValue))
    val queries = spark.read.parquet(s"$dir/input/queries")
      .filter(col("vec_id") < t.long("query_id_base") + nQueries)
    val t1 = System.nanoTime()
    val searches = Seq[(String, () => DataFrame)](
      "Similarity.lshTopK" -> (() => Similarity.lshTopK(vectors, queries, k, planes = 6,
        probeBits = 4)),
      "Similarity.ivfTopK" -> (() => Similarity.ivfTopK(vectors, queries, k, nprobe = 8)),
      "Similarity.pqTopK" -> (() => Similarity.pqTopK(vectors, queries, k)))
    var candidates = 0L
    val recalls = searches.map { case (name, search) =>
      val (df, rows) = rep.collected("sim", name)(search())
      candidates += rowsRanked(df)
      val byQuery = rows.groupBy(_.getLong(0))
      val badOrder = byQuery.count { case (_, rs) =>
        val sorted = rs.sortBy(_.getInt(1))
        sorted.length > k || sorted.map(_.getInt(1)).toSeq != (1 to sorted.length) ||
          sorted.sliding(2).exists(w => w.length == 2 && w(0).getDouble(3) < w(1).getDouble(3))
      }
      rep.items(s"$name ranked top-$k lists", nQueries, badOrder)
      val recall = exactTopK.map { case (q, truth) =>
        byQuery.getOrElse(q, Array.empty[Row]).count(r => truth.contains(r.getLong(2)))
      }.sum.toDouble / (k * exactTopK.size)
      rep.figures(s"${name.stripPrefix("Similarity.")}_recall_at_$k") = recall
      // exact top-k is known for the whole corpus only
      if (!warmup) rep.check(s"$name recall@$k >= 0.5", recall >= 0.5, f"$recall%.4f")
      recall
    }
    val knnSeconds = (System.nanoTime() - t1) / 1e9
    rep.figures("sim.candidates_per_query") = candidates.toDouble / (searches.size * nQueries)
    rep.figures("knn_recall_at_10") = recalls.min
    rep.figures("knn_qps") = searches.size * nQueries / knnSeconds
    rep.figures("docs_per_s") = nDocs / dedupSeconds
    val quality = math.min(pairRecall, recalls.min)
    RepStats(nDocs.toDouble, dedupSeconds, searches.size * nQueries.toDouble, knnSeconds, quality)
  }

  private def qualityOf(r: Row): Double = if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2)

  /** Smallest id of each id's connected component under `edges`. */
  private def components(ids: Array[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  // ---- counts read off the executed plan of a forced call

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def rowsOut(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def isVerify(e: Expression) = e.sql.contains(threshold.toString)

  /** Candidate pairs that reached the exact-Jaccard check, and pairs it kept.
    * The check is a filter, or a join condition once the optimizer folds
    * the filter into the join that attaches the shingle hashes. */
  private def verifyCounts(df: DataFrame): (Long, Long) = {
    def rows(p: SparkPlan) = nodes(p).iterator.flatMap(rowsOut).nextOption().getOrElse(0L)
    nodes(df.queryExecution.executedPlan).collectFirst {
      case f: FilterExec if isVerify(f.condition) => (rows(f.child), rows(f))
      case j: HashJoin if j.condition.exists(isVerify) =>
        (rows(if (j.buildSide == BuildLeft) j.right else j.left), rows(j))
      case j: SortMergeJoinExec if j.condition.exists(isVerify) => (rows(j.left), rows(j))
    }.getOrElse((0L, 0L))
  }

  /** Query-neighbour pairs scored by exact cosine: the rows out of the join
    * under the final per-query ranking. */
  private def rowsRanked(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).collectFirst { case w: WindowExec => w }
      .flatMap(w => nodes(w).collectFirst { case j: BaseJoinExec => rowsOut(j) })
      .flatten.getOrElse(0L)
}
