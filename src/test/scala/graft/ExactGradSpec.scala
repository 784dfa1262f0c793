package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{ExactGrad, KrEar, TransE}

/** The exact-gradient fold is order- and width-free: how the triples
  * (or the gradient rows) are partitioned must not move a single bit
  * of the trained model. The fold width follows the epoch dataset, so
  * this is the invariant that lets it. */
class ExactGradSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  private def bits(m: Array[Array[Float]]): Seq[Seq[Int]] =
    m.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  test("step: the same gradient rows over 1 or 7 partitions apply identically") {
    import spark.implicits._
    // 200 micro-unit rows over 13 model rows (8 + 5), plus a loss row
    val rows = (0 until 200).map { i =>
      (i.toLong % 13,
        Array.tabulate(4)(j => (i * 7919L + j * 104729L) % 2000001L - 1000000L))
    } :+ ((-1L, Array(1234567L, 0L, 0L, 0L)))
    def fit(parts: Int): (Double, Array[Array[Float]]) = {
      val a = ExactGrad.init(0, 8, 7L, 4); val b = ExactGrad.init(1, 5, 7L, 4)
      val loss = ExactGrad.step(rows.toDS().repartition(parts), 0.1,
        new ExactGrad.Layout(a, b))
      (loss, a ++ b)
    }
    val (l1, m1) = fit(1)
    val (l7, m7) = fit(7)
    assert(l1 == 1.234567 && l7 == l1)
    assert(bits(m1) == bits(m7))
    // the rows did move the model
    assert(bits(m1) != bits(ExactGrad.init(0, 8, 7L, 4) ++ ExactGrad.init(1, 5, 7L, 4)))
  }

  test("TransE/TransH fits are bit-identical over differently partitioned input") {
    val nEnt = graph.GraphBuild.erEntities(spark, sf).count().toInt
    val nRel = graph.GraphBuild.Relations.size
    val triples = graph.GraphBuild.erTriples(spark, sf)
      .withColumn("idx", TransE.packedIdx(nEnt.toLong, nRel.toLong))
    for (transH <- Seq(false, true)) {
      val cfg = TransE.Config(epochs = 2, negRelRate = 1, transH = transH)
      val a = TransE.train(spark, triples.repartition(1), nEnt, nRel, cfg)
      val b = TransE.train(spark, triples.repartition(5), nEnt, nRel, cfg)
      assert(bits(a.ent) == bits(b.ent), s"transH=$transH ent")
      assert(bits(a.rel) == bits(b.rel), s"transH=$transH rel")
      assert(bits(a.wRel) == bits(b.wRel), s"transH=$transH wRel")
      assert(a.lossByEpoch.toSeq == b.lossByEpoch.toSeq)
    }
  }

  test("KR-EAR fits are bit-identical over differently partitioned input") {
    val (entIds, valIds, relT, attrT) = KrEar.prepare(spark, sf)
    val nEnt = entIds.count().toInt
    val nVal = valIds.count().toInt
    val cfg = KrEar.Config(epochs = 2, negRelRate = 1)
    val a = KrEar.train(spark, relT.repartition(1), attrT.repartition(1),
      nEnt, nVal, cfg)
    val b = KrEar.train(spark, relT.repartition(5), attrT.repartition(3),
      nEnt, nVal, cfg)
    assert(bits(a.ent) == bits(b.ent))
    assert(bits(a.value) == bits(b.value))
    assert(bits(a.rel) == bits(b.rel))
    assert(bits(a.attr) == bits(b.attr))
    assert(bits(a.proj) == bits(b.proj))
    assert(a.relLoss.toSeq == b.relLoss.toSeq && a.attrLoss.toSeq == b.attrLoss.toSeq)
  }
}
