package graft.pipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Transitive closure over match edges via iterative
 * large-star / small-star connected components (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — the
 * scale-correct replacement for the reference's SEEA grow-the-match-set
 * loop (/root/reference/EAR/seea.py:307-342), per SURVEY.md §7.3.
 *
 * Each round is two shuffles (groupBy min + re-emit); rounds are
 * O(log n); `localCheckpoint()` cuts lineage per round so plans stay
 * bounded. Convergence is detected by a deterministic checksum of the
 * canonical edge set.
 */
object Cluster {

  /** canonicalize: undirected, no self loops, distinct (lo, hi). */
  private def canon(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /**
   * large-star: for each node u (over bidirected edges) link every
   * strictly-larger neighbor to m = min(N(u) + {u}).
   */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bi = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = bi.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    bi.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /**
   * small-star: key every edge by its larger endpoint; link the
   * smaller neighbors (and the key itself) to the minimum.
   */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val m = dir.groupBy("src").agg(min("dst").as("m"))
    dir.join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
  }

  /** checksum for convergence: (count, xor of edge hashes) — xor is
    * order-independent and overflow-free under ANSI mode. */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /**
   * Connected components of the undirected edge set.
   * @return (node: Long, cluster: Long) for every node that appears in
   *         an edge; cluster = component minimum.
   * @throws IllegalStateException when the edges have not reached their
   *         fixpoint after `maxRounds` rounds: the labels would be
   *         partial.
   */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val sess = edges.sparkSession
    // LAZY localCheckpoint: the checksum aggregation right after is the
    // action that materializes it, so each round costs ONE job instead
    // of two (eager checkpoint job + checksum job) — the loop is
    // latency-bound at bench scale, and at any scale this halves the
    // job count without changing what is computed.
    var cur = canon(edges).localCheckpoint(false)
    var prev = checksum(cur)
    // iterative rounds over a (usually) small edge set are latency-
    // bound: size the shuffle width to the data instead of inheriting
    // a scoring-stage-wide setting, and restore afterwards.
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions")
    // ~25k edges per task: the old 200k-per-task sizing put the whole
    // bench-scale loop on ONE task, serializing every round stage; 25k
    // keeps tasks non-trivial while letting the rounds use the cores.
    // At real scale the defaultParallelism cap governs, as before.
    val parts = math.max(1L, math.min(
      sess.sparkContext.defaultParallelism.toLong, prev._1 / 25000 + 1)).toString
    sess.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val next = canon(smallStar(largeStar(cur))).localCheckpoint(false)
        val cs = checksum(next)
        converged = cs == prev
        prev = cs
        cur = next
        round += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $round rounds " +
            s"(maxRounds=$maxRounds, ${prev._1} edges in the last round)")
    } finally {
      sess.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // At fixpoint the graph is a star per component rooted at its min;
    // canonical edges are (lo=min, hi=member), so labels read off as
    // hi -> lo (and lo -> lo for the roots).
    val nodes = cur.select(col("dst").as("node"), col("src").as("cluster"))
      .union(cur.select(col("src").as("node"), col("src").as("cluster")))
    nodes.groupBy("node").agg(min("cluster").as("cluster"))
  }

  /**
   * Cluster assignment for every record id: component min for matched
   * records, own id for singletons.
   */
  def assign(recordIds: DataFrame, edges: DataFrame): DataFrame = {
    val cc = connectedComponents(edges)
    // shuffled hash, not sort-merge: both sides are id-keyed longs and
    // the cc side (matched nodes only) is the smaller per partition —
    // skipping both sort passes is strictly cheaper, and the build side
    // never grows beyond the record count (guide §3.1).
    recordIds.select(col("id"))
      .join(cc.withColumnRenamed("node", "id").hint("shuffle_hash"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
