package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The exact-gradient training scaffold of the TransE family
 * ([[TransE]], [[KrEar]], [[MTransE]]): everything a trainer must agree
 * on with the others and with its DuckDB replay, except the per-triple
 * hinge math, which stays in each trainer.
 *
 *  - init is FNV-seeded per (matrix, row, dim) — [[initComponent]] —
 *    not a sequential java.util.Random stream;
 *  - every per-triple gradient contribution is quantized to integer
 *    MICRO-UNITS ([[microQ]]) before the cross-triple sum, so the
 *    reduction is exact long addition — order-free in both engines;
 *  - each pass runs over an [[epochData]] dataset, each partition
 *    accumulates one sparse [[Acc]], and [[step]] folds the rows by
 *    model row id in ONE shuffle and applies exactly one float-rounded
 *    update per touched row on the driver.
 *
 * Long sums are associative and commutative and every model row gets
 * one update per pass, so the trained floats do not depend on how the
 * triples are partitioned or in what order the fold meets them.
 */
object ExactGrad {

  /** Gradients ship as exact integer micro-units. */
  final val Micro = 1e6

  /** Integer micro-unit quantizer (floor(x*1e6 + 0.5), NOT rint:
    * half-up ties replay as `floor(x*1000000.0 + 0.5)` in SQL, where
    * rint's half-even would not). */
  def microQ(x: Double): Long = math.floor(x * Micro + 0.5).toLong

  /** Seeded mix shared with the sampler oracles — the ONE hash stream
    * the DuckDB side already replays ([[NegativeSampler.fnvMix]] /
    * OracleSql.fnvMixChainW). */
  def mix(a: Long, b: Long): Long = NegativeSampler.fnvMix(a, b)

  /**
   * FNV-seeded uniform init in [-bound, bound): matrix `matId` (8
   * per-trainer stream slots: TransE uses 0=ent, 1=rel, 2=wRel; KrEar
   * 0..4; MTransE 0..5) row `row` dim `j`, bound = 6/sqrt(dim)
   * (the reference's Xavier-style range,
   * ER/transe.py:33-36). A pure function of its
   * arguments — SQL-replayable and independent of init ORDER.
   */
  private[graft] def initComponent(matId: Int, row: Int, j: Int,
                                   seed: Long, dim: Int): Float = {
    // stream packing allots 3 bits to matId and 6 to j: past those
    // bounds the (seed, j) streams of ADJACENT seeds would silently
    // alias, weakening init independence (ADVICE r4)
    require(j < 64 && dim <= 64, s"init stream packing needs dim <= 64 (dim=$dim)")
    require(matId < 8, s"init stream packing needs matId < 8 (matId=$matId)")
    val h = mix(row.toLong * 8L + matId, seed * 64L + j)
    val u = (h >>> 11).toDouble / 9007199254740992.0
    ((u * 2.0 - 1.0) * (6.0 / math.sqrt(dim))).toFloat
  }

  /** An `n x dim` matrix of [[initComponent]] values in slot `matId`. */
  def init(matId: Int, n: Int, seed: Long, dim: Int): Array[Array[Float]] =
    Array.tabulate(n)(row =>
      Array.tabulate(dim)(j => initComponent(matId, row, j, seed, dim)))

  /** Partitions of every epoch dataset. Each partition emits one dense
    * gradient row per model row it touches, so gradient-shuffle volume
    * scales with (partitions x touched rows): a few wide partitions
    * keep the epoch CPU-parallel while bounding duplicate rows. */
  private final val EpochPartitions = 8

  /** The dataset a trainer iterates every epoch. localCheckpoint
    * truncates the logical plan: otherwise every epoch re-analyzes the
    * full upstream lineage (dictionary windows/joins), which dominates
    * the epoch wall time. */
  def epochData[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(EpochPartitions).localCheckpoint()

  /** Sorted packed-triple index of an epoch dataset, broadcast ONCE for
    * the whole fit (8 bytes per triple — the same order as the entity
    * matrix already broadcast every epoch): the rejection set of
    * [[corrupt]]. Empty when the trainer draws no corruptions. */
  def packedIndex[T](data: Dataset[T], enabled: Boolean)(
      pack: T => Long): Broadcast[Array[Long]] = {
    val spark = data.sparkSession
    import spark.implicits._
    spark.sparkContext.broadcast(
      if (enabled) data.map(pack).collect().sorted else Array.emptyLongArray)
  }

  /**
   * Seeded rejection draw of a corrupted relation (or attribute) id for
   * the triple (h, t, r): up to 16 attempts `c = mix(x, y(att)) mod n`,
   * taking the first `c != r` whose packed triple `(h*n + c)*m + t` is
   * not in `sorted`; -1 when every attempt is rejected. `x` and `y` are
   * the trainer's own seed and draw stream, which its DuckDB replay
   * reproduces.
   */
  def corrupt(x: Long, y: Int => Long, h: Long, t: Long, r: Long,
              n: Long, m: Long, sorted: Array[Long]): Long = {
    var att = 0
    while (att < 16) {
      val d = mix(x, y(att))
      val c = ((d % n) + n) % n
      if (c != r && java.util.Arrays.binarySearch(sorted, (h * n + c) * m + t) < 0)
        return c
      att += 1
    }
    -1L
  }

  /** Gradient row id of a partition's loss (slot 0 of its row). */
  private final val LossRow = -1L

  /** One partition's sparse gradient: a dense micro-unit row per
    * touched model row — head- and tail-role contributions MERGE here,
    * so the driver applies exactly one update per row — plus the
    * partition's hinge loss. */
  final class Acc(dim: Int) {
    private val rows = new java.util.HashMap[Long, Array[Long]]()
    private var lossMicro = 0L

    /** The accumulator row of model row `id`. */
    def g(id: Long): Array[Long] = {
      var v = rows.get(id)
      if (v == null) { v = new Array[Long](dim); rows.put(id, v) }
      v
    }

    /** Adds one positive hinge term to the partition's loss. */
    def loss(l: Double): Unit = lossMicro += microQ(l)

    /** The loss row, then every touched model row. */
    def emit: Iterator[(Long, Array[Long])] = {
      import scala.jdk.CollectionConverters._
      val lossRow = new Array[Long](dim)
      lossRow(0) = lossMicro
      Iterator.single((LossRow, lossRow)) ++
        rows.entrySet().asScala.iterator.map(kv => (kv.getKey, kv.getValue))
    }
  }

  /** The model matrices one gradient id space addresses: matrix k owns
    * ids [offset(k), offset(k) + rows of k). */
  final class Layout(mats: Array[Array[Float]]*) {
    val offset: Array[Long] = mats.scanLeft(0L)(_ + _.length).toArray

    def row(id: Long): Array[Float] = {
      var k = mats.length - 1
      while (id < offset(k)) k -= 1
      mats(k)((id - offset(k)).toInt)
    }
  }

  /**
   * Folds one pass's [[Acc]] rows and applies them: exact element-wise
   * long sums per model row in ONE shuffle (RDD reduceByKey with
   * map-side combine, as wide as the epoch dataset), then on the
   * driver `row -= lr * grad` rounded to float, once per touched row.
   * Returns the pass's total loss.
   */
  def step(grads: Dataset[(Long, Array[Long])], lr: Double,
           model: Layout): Double = {
    val rows = grads.rdd
    val reduced = rows.reduceByKey({ (a, b) =>
      val s = new Array[Long](a.length)
      var i = 0
      while (i < s.length) { s(i) = a(i) + b(i); i += 1 }
      s
    }, rows.getNumPartitions).collect()
    var loss = 0.0
    reduced.foreach { case (id, gv) =>
      if (id == LossRow) loss = gv(0) / Micro
      else {
        val target = model.row(id)
        var i = 0
        while (i < target.length) {
          target(i) = (target(i).toDouble - lr * (gv(i).toDouble / Micro)).toFloat
          i += 1
        }
      }
    }
    loss
  }

  /** Record id -> dictionary entity id over a graph dictionary's record
    * entities (labels `r<id>`): (rid, ent_id). */
  def recordIds(ents: DataFrame): DataFrame =
    ents.filter(col("label").rlike("^r[0-9]+$"))
      .select(substring(col("label"), 2, 20).cast("long").as("rid"),
        col("ent_id"))

  /** The candidate pairs with their model rows attached by JOIN (the id
    * maps are data-sized — they never land on the driver): (idA, idB,
    * block_key, entA, entB, label, split_a, split_b). `recA`/`recB` are
    * (rid, ent_id) maps of the A and B record ids. */
  def candidateRows(spark: SparkSession, sfDir: String,
                    recA: DataFrame, recB: DataFrame): DataFrame =
    graft.EntryStages.cand(spark, sfDir)
      .select(col("idA"), col("idB"), col("block_key"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(recA.select(col("rid").as("idA"), col("ent_id").as("entA")), "idA")
      .join(recB.select(col("rid").as("idB"), col("ent_id").as("entB")), "idB")
      .select(col("idA"), col("idB"), col("block_key"), col("entA"),
        col("entB"), col("label"), col("split_a"), col("split_b"))

  /** Cosine of the trained vectors of each candidate pair's records —
    * `vecA(entA)` vs `vecB(entB)`, both broadcast once:
    * (idA, idB, block_key, cos, label, split_a, split_b). */
  def candidateCosines(spark: SparkSession, sfDir: String,
                       recA: DataFrame, recB: DataFrame,
                       vecA: Array[Array[Float]],
                       vecB: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    val vecs = spark.sparkContext.broadcast((vecA, vecB))
    candidateRows(spark, sfDir, recA, recB)
      .as[(Long, Long, String, Long, Long, Long, String, String)]
      .mapPartitions { it =>
        val (va, vb) = vecs.value
        it.map { case (a, b, bk, ea, eb, lbl, sa, sb) =>
          (a, b, bk, Embed.cosine(va(ea.toInt), vb(eb.toInt)), lbl, sa, sb)
        }
      }.toDF("idA", "idB", "block_key", "cos", "label", "split_a", "split_b")
  }
}
