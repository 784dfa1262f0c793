package graft.linkbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.Metrics
import graft.gen.Synth
import graft.pipe.{Blocking, Cluster, Normalize, Threshold}
import graft.sim.Scorer

/**
 * The six-stage linkage chain, called the way `graft.Bench.main` calls
 * it: records and keys, salted blocking, pair scoring, threshold sweep,
 * connected components, fused evaluation. Each stage is one layer call
 * through the [[Probe]].
 */
object Chain {

  val Stages: Seq[String] = Seq("keyed", "blocking", "scorer", "threshold", "cluster", "metrics")

  final case class Out(
      records: Long, pairs: Long, theta: Double, clusters: Long, eval: Row,
      keyed: DataFrame, cand: DataFrame, scored: DataFrame,
      stageS: Seq[(String, Double)], wallS: Double) {
    def f1: Double = eval.getAs[Double]("f1")
    def mrr: Double = eval.getAs[Double]("mrr")

    /** Drops the chain's cached frames so the next repetition starts
      * from parquet again. */
    def release(): Unit = {
      keyed.unpersist(true)
      scored.unpersist(true)
      keyed.sparkSession.sharedState.cacheManager.clearCache()
    }
  }

  val dist: Column = lit(1.0) - col("score")

  def train(scored: DataFrame): DataFrame =
    scored.filter(col("split_a") === "train" && col("split_b") === "train")

  def test(scored: DataFrame): DataFrame =
    scored.filter(col("split_a") === "test" && col("split_b") === "test")

  def edges(scored: DataFrame, theta: Double): DataFrame =
    scored.filter(dist <= theta).select(col("idA").as("src"), col("idB").as("dst"))

  def run(spark: SparkSession, inputDir: String, probe: Probe): Out = {
    val walls = mutable.LinkedHashMap.empty[String, Double]
    def stage[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = probe.layer(name)(f)
      walls(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val t0 = System.nanoTime()
    val (keyed, nRecords) = stage("keyed") {
      val k = Blocking.withBlockKey(Normalize(Synth.records(spark, inputDir))).persist()
      (k, k.count())
    }
    val (cand, nPairs) = stage("blocking") {
      val c = Blocking.candidates(keyed)
      (c, c.count())
    }
    val scored = stage("scorer") {
      val s = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark)).persist()
      s.count()
      s
    }
    val theta = stage("threshold") {
      Threshold.bestThetaRobust(train(scored), dist, col("label"))
    }
    val nClusters = stage("cluster") {
      Cluster.assign(keyed.select("id"), edges(scored, theta))
        .select(countDistinct("cluster")).head().getLong(0)
    }
    val evalRow = stage("metrics") {
      Metrics.fullEval(test(scored), dist, col("label"), theta).head()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Out(nRecords, nPairs, theta, nClusters, evalRow, keyed, cand, scored,
      walls.toSeq, wall)
  }
}
