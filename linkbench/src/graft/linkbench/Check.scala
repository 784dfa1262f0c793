package graft.linkbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Output checks, each against a reference computed independently of
 * the stage under test:
 *  - the pair count against the plain unsalted `join(…, "block_key")`;
 *  - cluster labels and counts against a driver-side union-find over
 *    the collected match edges;
 *  - tp/fp/fn/F1 at theta against plain counts over the collected test
 *    pairs;
 *  - a resumed pipeline summary against the cold one;
 *  - golden (n_pairs, theta, f1, mrr, n_clusters) per workload and seed.
 */
object Check {

  final case class Result(name: String, ok: Boolean, detail: String)

  final case class Golden(pairs: Long, theta: Double, f1: Double, mrr: Double,
                          clusters: Long) {
    def tsv(workload: String, seed: Long): String =
      Seq(workload, seed, pairs, theta, f1, mrr, clusters).mkString("\t")
  }

  /** `workload<TAB>seed<TAB>n_pairs<TAB>theta<TAB>f1<TAB>mrr<TAB>n_clusters` lines. */
  def readGolden(path: Path): Map[(String, Long), Golden] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t")
        (f(0), f(1).toLong) -> Golden(f(2).toLong, f(3).toDouble, f(4).toDouble,
          f(5).toDouble, f(6).toLong)
      }.toMap

  def pairCount(keyed: DataFrame, pairs: Long): Result = {
    val a = keyed.filter(col("side") === "A").select("block_key")
    val b = keyed.filter(col("side") === "B").select("block_key")
    val ref = a.join(b, "block_key").count()
    Result("pairs", ref == pairs, s"candidates $pairs, plain join $ref")
  }

  /** Connected components of the match edges over all record ids:
    * label = component minimum, as `Cluster.assign` defines it. */
  final case class Components(labels: java.util.HashMap[Long, Long], count: Long,
                              edges: Long, maxSize: Long)

  def components(ids: Array[Long], edges: Array[(Long, Long)]): Components = {
    val parent = new java.util.HashMap[Long, Long](ids.length * 2)
    ids.foreach(i => parent.put(i, i))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (s, d) =>
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd) }
    }
    val labels = new java.util.HashMap[Long, Long](parent.size * 2)
    val sizes = new java.util.HashMap[Long, Long]()
    parent.keySet.asScala.foreach { n =>
      val r = find(n)
      labels.put(n, r)
      sizes.merge(r, 1L, (x: Long, y: Long) => x + y)
    }
    Components(labels, sizes.size.toLong, edges.length.toLong,
      if (sizes.isEmpty) 0L else sizes.values.asScala.max)
  }

  def components(keyed: DataFrame, scored: DataFrame, theta: Double): Components =
    components(
      keyed.select("id").collect().map(_.getLong(0)),
      Chain.edges(scored, theta).collect().map(r => (r.getLong(0), r.getLong(1))))

  def clusterCount(ref: Components, clusters: Long): Result =
    Result("clusters", ref.count == clusters,
      s"clusters $clusters, union-find ${ref.count}")

  /** Every record's label against the union-find's. */
  def labels(ref: Components, labels: DataFrame): Result = {
    val got = labels.select("id", "cluster").collect()
    val wrong = got.count(r => ref.labels.get(r.getLong(0)) != r.getLong(1))
    val ok = wrong == 0 && got.length == ref.labels.size
    Result("labels", ok,
      s"${got.length} labels for ${ref.labels.size} records, $wrong differ")
  }

  /** tp/fp/fn and F1 on the test split at theta, against plain counts
    * over the collected test pairs. */
  def confusion(scored: DataFrame, theta: Double, tp: Long, fp: Long, fn: Long,
                f1: Double): Result = {
    val t = Chain.test(scored).select(Chain.dist <= theta, col("label") === 1).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    val rtp = t.count { case (m, l) => m && l }.toLong
    val rfp = t.count { case (m, l) => m && !l }.toLong
    val rfn = t.count { case (m, l) => !m && l }.toLong
    val rf1 = if (rtp == 0) 0.0 else rtp * 2.0 / (rtp * 2 + rfp + rfn)
    Result("confusion", (rtp, rfp, rfn) == (tp, fp, fn) && rf1 == f1,
      s"tp/fp/fn/f1 $tp/$fp/$fn/$f1, filter counts $rtp/$rfp/$rfn/$rf1")
  }

  def confusion(scored: DataFrame, theta: Double, eval: Row): Result =
    confusion(scored, theta, eval.getAs[Long]("tp"), eval.getAs[Long]("fp"),
      eval.getAs[Long]("fn"), eval.getAs[Double]("f1"))

  def summaries(cold: Seq[Row], resumed: Seq[Row]): Result =
    Result("resume", cold == resumed,
      s"cold ${cold.mkString}, resumed ${resumed.mkString}")

  /** Against the recorded values for this workload and seed, if any;
    * `mrr` is compared only when given. */
  def golden(table: Map[(String, Long), Golden], workload: String, seed: Long,
             pairs: Long, theta: Double, f1: Double, mrr: Option[Double],
             clusters: Long): Option[Result] =
    table.get((workload, seed)).map { g =>
      val ok = g.pairs == pairs && g.theta == theta && g.f1 == f1 &&
        mrr.forall(_ == g.mrr) && g.clusters == clusters
      Result("golden", ok,
        s"got ($pairs, $theta, $f1, ${mrr.getOrElse("-")}, $clusters), " +
          s"golden (${g.pairs}, ${g.theta}, ${g.f1}, ${g.mrr}, ${g.clusters})")
    }

  /** All checks of one chain repetition. The three references run as
    * concurrent Spark jobs: each is mostly job latency. */
  def chain(out: Chain.Out, golden: Map[(String, Long), Golden], workload: String,
            seed: Long): (Seq[Result], Components) = {
    val compsF = Future(components(out.keyed, out.scored, out.theta))
    val pairsF = Future(pairCount(out.keyed, out.pairs))
    val confF = Future(confusion(out.scored, out.theta, out.eval))
    def get[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    val comps = get(compsF)
    val rs = Seq(
      get(pairsF),
      clusterCount(comps, out.clusters),
      get(confF)) ++
      Check.golden(golden, workload, seed, out.pairs, out.theta, out.f1,
        Some(out.mrr), out.clusters)
    (rs, comps)
  }

  /** All checks of one checkpointed `Pipeline.run`. */
  def pipeline(out: graft.Pipeline.Outputs, golden: Map[(String, Long), Golden],
               workload: String, seed: Long): Seq[Result] = {
    val s = out.summary.head()
    val pairs = s.getAs[Long]("n_candidate_pairs")
    val clusters = s.getAs[Long]("n_clusters")
    val comps = components(out.keyed, out.scored, out.theta)
    Seq(
      pairCount(out.keyed, pairs),
      clusterCount(comps, clusters),
      labels(comps, out.clusters),
      confusion(out.scored, out.theta, s.getAs[Long]("tp"), s.getAs[Long]("fp"),
        s.getAs[Long]("fn"), s.getAs[Double]("test_f1"))) ++
      Check.golden(golden, workload, seed, pairs, out.theta,
        s.getAs[Double]("test_f1"), None, clusters)
  }
}
