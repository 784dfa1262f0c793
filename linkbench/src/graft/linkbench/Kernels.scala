package graft.linkbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.StringSim
import graft.sim.Embed

/**
 * Single-thread microbenchmark of the scorer's kernels —
 * `StringSim.jaroWinkler`, `StringSim.levSim`, `Embed.vector` and
 * `Embed.cosine` — over a fixed, seed-derived sample of the workload's
 * non-identical candidate pairs. Reports ns per call, the median over
 * timed passes after untimed warm passes.
 */
object Kernels {

  /** Up to `n` non-identical (content_a, content_b) pairs, chosen by a
    * seeded hash so the same input and seed give the same sample. */
  def sample(cand: DataFrame, seed: Long, n: Int): Array[(String, String)] =
    cand.filter(col("content_a") =!= col("content_b"))
      .select(col("content_a"), col("content_b"),
        xxhash64(col("idA"), col("idB"), lit(seed)).as("h"))
      .orderBy("h", "content_a", "content_b").limit(n).collect()
      .map(r => (r.getString(0), r.getString(1)))

  private val WarmPasses = 2
  private val TimedPasses = 5

  private def nsPerCall(calls: Int)(pass: => Double): Double = {
    var sink = 0.0
    (1 to WarmPasses).foreach(_ => sink += pass)
    val ns = (1 to TimedPasses).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / calls
    }.sorted
    if (java.lang.Double.isNaN(sink)) throw new IllegalStateException("kernel sink")
    ns(ns.length / 2)
  }

  /** (jw_ns, lev_ns, vector_ns, cosine_ns). */
  def run(pairs: Array[(String, String)]): (Double, Double, Double, Double) = {
    require(pairs.nonEmpty, "no non-identical pairs to sample")
    val n = pairs.length
    val mat = Embed.projection()
    val jw = nsPerCall(n) {
      var s = 0.0; var i = 0
      while (i < n) { s += StringSim.jaroWinkler(pairs(i)._1, pairs(i)._2); i += 1 }
      s
    }
    val lev = nsPerCall(n) {
      var s = 0.0; var i = 0
      while (i < n) { s += StringSim.levSim(pairs(i)._1, pairs(i)._2); i += 1 }
      s
    }
    val vec = nsPerCall(2 * n) {
      var s = 0.0; var i = 0
      while (i < n) {
        s += Embed.vector(pairs(i)._1, mat)(0) + Embed.vector(pairs(i)._2, mat)(0)
        i += 1
      }
      s
    }
    val va = pairs.map(p => Embed.vector(p._1, mat))
    val vb = pairs.map(p => Embed.vector(p._2, mat))
    val cos = nsPerCall(n) {
      var s = 0.0; var i = 0
      while (i < n) { s += Embed.cosine(va(i), vb(i)); i += 1 }
      s
    }
    (jw, lev, vec, cos)
  }
}
