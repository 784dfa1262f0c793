package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuild

/**
 * MTransE / ETransE — dual-KG alignment embedding
 * (/root/reference/ERER/mtranse.py:140-227,
 * /root/reference/ERER/etranse.py:60-110,300-340):
 *
 * - KG A and KG B each train a plain TransE margin loss over their OWN
 *   entity/relation tables (disjoint dictionaries);
 * - an ALIGNMENT model learns a dim x dim translation matrix M over
 *   the prior pairs: hinge on ||M e_a - e_b||_1 against corrupted
 *   partners (mtranse.py _calc_alignment);
 * - ETransE adds per-relation EVOLUTION vectors v_r over the prior
 *   pairs' linked value nodes: hinge on ||M a + v_r - b||_1
 *   (etranse.py _calc_evolve), capturing how attribute values drift
 *   between the two snapshots.
 *
 * The epoch alternates the optimizers exactly like the reference's
 * train loop (A pass, B pass, alignment pass, evolution pass). Spark
 * shape matches [[TransE.train]] ([[ExactGrad]]): model broadcast per
 * epoch, sparse gradients in integer micro-units, one reduceByKey
 * shuffle per pass, only model-sized rows on the driver.
 */
object MTransE {
  import ExactGrad.{Micro, corrupt, microQ, mix}

  /**
   * @param negRelRate relation corruptions per triple per epoch inside
   *        each per-KG TransE pass (r' != r, rejecting real triples —
   *        /root/reference/common.py:117-127; the reference passes
   *        neg_rel_rate to both KGs' samplers).
   */
  final case class Config(
      // epochs = 5: the dual-KG + alignment tiers hold their band
      // (spec) — each epoch is three hinge blocks in the DuckDB replay
      dim: Int = 16, epochs: Int = 5, lr: Double = 0.1,
      margin: Double = 1.0, negRate: Int = 2, seed: Long = 42L,
      evolve: Boolean = false, negRelRate: Int = 0)

  final case class Model(
      entA: Array[Array[Float]], entB: Array[Array[Float]],
      relA: Array[Array[Float]], relB: Array[Array[Float]],
      m: Array[Array[Float]], evolveVec: Array[Array[Float]],
      lossByEpoch: Array[Double])

  /** M v for a dim x dim row-major matrix. */
  private def matVec(m: Array[Array[Float]], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { s += row(j).toDouble * v(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /**
   * @param triplesA / triplesB per-side (h, t, r)
   * @param aligned   (a, b, r) pairs for the alignment loss (record
   *                  priors with r = -1) and, when cfg.evolve, the
   *                  evolution value pairs with their relation id
   */
  def train(spark: SparkSession,
            triplesA: DataFrame, triplesB: DataFrame, aligned: DataFrame,
            nEntA: Int, nEntB: Int, nRel: Int,
            cfg: Config = Config()): Model = {
    import spark.implicits._
    val dim = cfg.dim
    // FNV-seeded init, matrix slots 0..5
    val entA = ExactGrad.init(0, nEntA, cfg.seed, dim); entA.foreach(Embed.l2normalize)
    val entB = ExactGrad.init(1, nEntB, cfg.seed, dim); entB.foreach(Embed.l2normalize)
    val relA = ExactGrad.init(2, nRel, cfg.seed, dim)
    val relB = ExactGrad.init(3, nRel, cfg.seed, dim)
    // dim x dim alignment matrix, one row per id
    val m = ExactGrad.init(4, dim, cfg.seed, dim)
    val evolveVec = ExactGrad.init(5, nRel, cfg.seed, dim)

    val model = new ExactGrad.Layout(entA, entB, relA, relB, m, evolveVec)
    val Array(_, offB, offRelA, offRelB, offM, offEvo, _) = model.offset

    def ds(df: DataFrame): Dataset[(Long, Long, Long)] =
      ExactGrad.epochData(df.select(col(df.columns(0)).cast("long"),
        col(df.columns(1)).cast("long"), col(df.columns(2)).cast("long"))
        .as[(Long, Long, Long)])
    val dataA = ds(triplesA); val dataB = ds(triplesB)
    val dataAl = ds(aligned)

    // per-side rejection indexes for relation corruption
    val nRelL0 = nRel.toLong
    def packed(data: Dataset[(Long, Long, Long)], nEnt: Long) =
      ExactGrad.packedIndex(data, cfg.negRelRate > 0) {
        case (h, t, r) => (h * nRelL0 + r) * nEnt + t }
    val packedA = packed(dataA, nEntA.toLong)
    val packedB = packed(dataB, nEntB.toLong)

    val losses = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      val ep = epoch
      val negRate = cfg.negRate
      val negRelRate = cfg.negRelRate
      val nRelL = nRel.toLong
      val margin = cfg.margin
      val evolve = cfg.evolve

      // --- per-KG TransE pass (side = 0 for A, 1 for B) ---
      def kgPass(data: Dataset[(Long, Long, Long)], side: Int): Double = {
        val bb = spark.sparkContext.broadcast((entA, entB, relA, relB))
        val nEntL = (if (side == 0) nEntA else nEntB).toLong
        val entOff = if (side == 0) 0L else offB
        val relOff = if (side == 0) offRelA else offRelB
        val rows = data.mapPartitions { it =>
          val (ea, eb, ra, rb) = bb.value
          val e = if (side == 0) ea else eb
          val r = if (side == 0) ra else rb
          val acc = new ExactGrad.Acc(dim)
          val sorted = if (side == 0) packedA.value else packedB.value
          it.foreach { case (h, t, rl) =>
            // relation corruption: (h, t, r'), rejecting real triples
            var jr = 0
            while (jr < negRelRate && nRelL > 1) {
              val y0 = 0x9e3779b9L + (ep.toLong * negRelRate + jr) * 31
              val rNeg = corrupt(h * 31 + t + side * 131, att => y0 + att,
                h, t, rl, nRelL, nEntL, sorted)
              if (rNeg >= 0) {
                val eh = e(h.toInt); val et = e(t.toInt)
                val er = r(rl.toInt); val ern = r(rNeg.toInt)
                var pos = 0.0; var neg = 0.0
                var i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble + er(i) - et(i))
                  neg += math.abs(eh(i).toDouble + ern(i) - et(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  acc.loss(l)
                  val gh = acc.g(entOff + h); val gt = acc.g(entOff + t)
                  val gr = acc.g(relOff + rl); val grn = acc.g(relOff + rNeg)
                  i = 0
                  while (i < dim) {
                    val sp = math.signum(eh(i).toDouble + er(i) - et(i))
                    val sn = math.signum(eh(i).toDouble + ern(i) - et(i))
                    val dm = ((sp - sn) * Micro).toLong
                    gh(i) += dm; gt(i) -= dm
                    gr(i) += (sp * Micro).toLong
                    grn(i) -= (sn * Micro).toLong
                    i += 1
                  }
                }
              }
              jr += 1
            }
            var j = 0
            while (j < negRate) {
              val d = mix(h * 31 + t + side * 131, ep.toLong * negRate + j)
              val tNeg = ((d % nEntL) + nEntL) % nEntL
              if (tNeg != t) {
                val eh = e(h.toInt); val et = e(t.toInt)
                val en = e(tNeg.toInt); val er = r(rl.toInt)
                var pos = 0.0; var neg = 0.0
                var i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble + er(i) - et(i))
                  neg += math.abs(eh(i).toDouble + er(i) - en(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  acc.loss(l)
                  val gh = acc.g(entOff + h); val gt = acc.g(entOff + t)
                  val gn = acc.g(entOff + tNeg); val gr = acc.g(relOff + rl)
                  i = 0
                  while (i < dim) {
                    val sp = math.signum(eh(i).toDouble + er(i) - et(i))
                    val sn = math.signum(eh(i).toDouble + er(i) - en(i))
                    val dm = ((sp - sn) * Micro).toLong
                    gh(i) += dm; gr(i) += dm
                    gt(i) -= (sp * Micro).toLong
                    gn(i) += (sn * Micro).toLong
                    i += 1
                  }
                }
              }
              j += 1
            }
          }
          acc.emit
        }
        val l = ExactGrad.step(rows, cfg.lr, model)
        bb.destroy()
        l
      }

      val lossA = kgPass(dataA, 0)
      val lossB = kgPass(dataB, 1)
      entA.foreach(Embed.l2normalize)
      entB.foreach(Embed.l2normalize)
      // sphere-project relation rows under relation corruption (each
      // receives a hinge term per same-relation triple per epoch and
      // diverges un-normalized — see TransE.train)
      if (cfg.negRelRate > 0) {
        relA.foreach(Embed.l2normalize)
        relB.foreach(Embed.l2normalize)
      }

      // --- alignment (+ evolution) pass over (a, b, r) pairs ---
      val bb = spark.sparkContext.broadcast((entA, entB, m, evolveVec))
      val nEntBL = nEntB.toLong
      val rows = dataAl.mapPartitions { it =>
        val (ea, eb, mm, ev) = bb.value
        val acc = new ExactGrad.Acc(dim)
        it.foreach { case (a, b, rl) =>
          val va = ea(a.toInt)
          val ma = matVec(mm, va)
          val vec = if (rl >= 0 && evolve) ev(rl.toInt) else null
          def score(bi: Long): Double = {
            val vb = eb(bi.toInt)
            var s = 0.0
            var i = 0
            while (i < dim) {
              val z = ma(i).toDouble +
                (if (vec != null) vec(i).toDouble else 0.0) - vb(i)
              s += math.abs(z)
              i += 1
            }
            s
          }
          var j = 0
          var negSum = 0.0
          val sigma = new Array[Double](dim) // sp - mean(sn)
          val vb = eb(b.toInt)
          var i = 0
          while (i < dim) {
            sigma(i) = math.signum(ma(i).toDouble +
              (if (vec != null) vec(i).toDouble else 0.0) - vb(i))
            i += 1
          }
          val negIds = new Array[Long](negRate)
          var nNeg = 0
          while (j < negRate) {
            val d = mix(a * 53 + b, (ep.toLong + 104729) * negRate + j)
            val bNeg = ((d % nEntBL) + nEntBL) % nEntBL
            if (bNeg != b) { negIds(nNeg) = bNeg; nNeg += 1; negSum += score(bNeg) }
            j += 1
          }
          if (nNeg > 0) {
            val pos = score(b)
            val negMean = negSum / nNeg
            val l = pos - negMean + margin
            if (l > 0) {
              acc.loss(l)
              val inv = 1.0 / nNeg
              // effective sign vector: sigma_pos - mean_j sigma_negj —
              // exact multiples of 1/nNeg (nNeg <= 2), so every
              // contribution below micro-quantizes exactly
              val eff = new Array[Double](dim)
              i = 0
              while (i < dim) { eff(i) = sigma(i); i += 1 }
              j = 0
              while (j < nNeg) {
                val vn = eb(negIds(j).toInt)
                val gn = acc.g(offB + negIds(j))
                i = 0
                while (i < dim) {
                  val sn = math.signum(ma(i).toDouble +
                    (if (vec != null) vec(i).toDouble else 0.0) - vn(i)) * inv
                  eff(i) -= sn
                  gn(i) += microQ(sn) // corrupted partner pushed away
                  i += 1
                }
                j += 1
              }
              val gb = acc.g(offB + b)
              val gaRow = acc.g(a)
              val gv = if (vec != null) acc.g(offEvo + rl) else null
              i = 0
              while (i < dim) {
                gb(i) -= microQ(sigma(i))
                if (gv != null) gv(i) += microQ(eff(i))
                // grad_a = M^T eff ; grad_M(row i) = eff_i * a
                var s = 0.0
                var k2 = 0
                while (k2 < dim) { s += mm(k2)(i).toDouble * eff(k2); k2 += 1 }
                gaRow(i) += microQ(s)
                val gm = acc.g(offM + i)
                k2 = 0
                while (k2 < dim) { gm(k2) += microQ(eff(i) * va(k2)); k2 += 1 }
                i += 1
              }
            }
          }
        }
        acc.emit
      }
      val lossAl = ExactGrad.step(rows, cfg.lr, model)
      bb.destroy()
      entA.foreach(Embed.l2normalize)
      entB.foreach(Embed.l2normalize)
      losses(epoch) = lossA + lossB + lossAl
      epoch += 1
    }
    dataA.unpersist(); dataB.unpersist(); dataAl.unpersist()
    packedA.destroy(); packedB.destroy()
    Model(entA, entB, relA, relB, m, evolveVec, losses)
  }

  /** Cosine pair scores of M e_a vs e_b over the candidate pairs. */
  def pairScores(spark: SparkSession, sfDir: String,
                 cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val entsA = GraphBuild.ererEntities(spark, sfDir, "A").persist()
    val entsB = GraphBuild.ererEntities(spark, sfDir, "B").persist()
    val nA = entsA.count().toInt
    val nB = entsB.count().toInt
    val triplesA = GraphBuild.ererTriples(spark, sfDir, "A")
    val triplesB = GraphBuild.ererTriples(spark, sfDir, "B")
    val recA = ExactGrad.recordIds(entsA); val recB = ExactGrad.recordIds(entsB)
    val priors = GraphBuild.priorPairs(spark, sfDir)
      .join(recA.select(col("rid").as("idA"), col("ent_id").as("a")), "idA")
      .join(recB.select(col("rid").as("idB"), col("ent_id").as("b")), "idB")
      .select(col("a"), col("b"), lit(-1L).as("r"))
    // ETransE: add the evolution value pairs with their relation ids
    val aligned = if (!cfg.evolve) priors else {
      val prefixes = GraphBuild.Relations.zipWithIndex
        .map { case (rel, rid) => (rid.toLong, s"$rel:") }
        .toDF("r", "prefix")
      val evo = GraphBuild.evolutionPairs(spark, sfDir)
        .join(broadcast(prefixes), "r")
        .join(entsA.select(col("label").as("lblA"), col("ent_id").as("a")),
          concat(col("prefix"), col("val_a")) === col("lblA"))
        .join(entsB.select(col("label").as("lblB"), col("ent_id").as("b")),
          concat(col("prefix"), col("val_b")) === col("lblB"))
        .select(col("a"), col("b"), col("r"))
      priors.unionByName(evo)
    }
    val model = train(spark, triplesA, triplesB, aligned, nA, nB,
      GraphBuild.Relations.size, cfg)
    val out = ExactGrad.candidateCosines(spark, sfDir, recA, recB,
      model.entA.map(matVec(model.m, _)), model.entB)
    entsA.unpersist(); entsB.unpersist()
    out
  }

  /** Summary row (shared by mtranse_eval / etranse_eval): theta swept
    * on the TRAIN-split pairs only, metrics reported on the TEST split. */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame = {
    val all = pairScores(spark, sfDir, cfg).persist()
    val row = graft.eval.Metrics.trainTest(all, lit(1.0) - col("cos"))
      .summaryRow("dim" -> cfg.dim.toLong, "epochs" -> cfg.epochs.toLong,
        "evolve" -> (if (cfg.evolve) 1L else 0L))
    all.unpersist()
    row
  }
}
