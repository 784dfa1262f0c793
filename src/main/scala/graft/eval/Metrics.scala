package graft.eval

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/**
 * Pairwise-classification and IR evaluation metrics as distributed
 * aggregations.
 *
 * Reference computes these driver-side over Python lists:
 * confusion/P/R/F1 (/root/reference/common.py:51-67), P@k / MAP / MRR
 * (/root/reference/common.py:300-339) with an O(|A|x|B|) membership
 * scan per query entity. Here: one window per query entity
 * (partitionBy idA, orderBy distance) + integer aggregations.
 *
 * Float discipline: every exported metric derives from integer counts
 * or integer micro-units (1e-6), never from a floating-point SUM whose
 * addend order Spark doesn't pin — so results hash-match the DuckDB
 * oracle bit-for-bit.
 */
object Metrics {

  /**
   * Confusion + precision/recall/F1/accuracy for a predicted match set
   * vs truth over a candidate universe.
   *
   * @param scored one row per candidate pair with `predicted` (bool-ish
   *               0/1) and `label` (0/1) columns.
   */
  def pairMetrics(scored: DataFrame, predicted: Column, label: Column): DataFrame = {
    val p = predicted.cast("int")
    val l = label.cast("int")
    scored.agg(
      sum(when(p === 1 && l === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(p === 1 && l === 0, 1L).otherwise(0L)).as("fp"),
      sum(when(p === 0 && l === 1, 1L).otherwise(0L)).as("fn"),
      sum(when(p === 0 && l === 0, 1L).otherwise(0L)).as("tn"))
    .select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fp"))).as("precision"),
      when(col("tp") + col("fn") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fn"))).as("recall"),
      when(col("tp") === 0, 0.0)
        .otherwise(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))).as("f1"),
      ((col("tp") + col("tn")) /
        (col("tp") + col("fp") + col("fn") + col("tn"))).as("accuracy"))
  }

  /**
   * Per-query-entity IR facts: rank candidates of each idA by ascending
   * distance (ties broken by idB), then reduce to integers —
   * n_candidates, n_rel, first_rel_rank, hits_at_1, ap_micros (average
   * precision in 1e-6 units; every addend is an integer, so the sum is
   * order-independent).
   */
  def irQueryFacts(scored: DataFrame, dist: Column, label: Column): DataFrame = {
    val w = Window.partitionBy("idA").orderBy(dist.asc, col("idB").asc)
    val ranked = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("lbl", label.cast("long"))
      .withColumn("cum_rel", sum(col("lbl")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // precision@rank at each relevant hit, in micro-units (exact int)
      .withColumn("prec_micros",
        when(col("lbl") === 1,
          round(col("cum_rel") * 1000000.0 / col("rank")).cast("long"))
          .otherwise(0L))
    ranked.groupBy("idA").agg(
      count(lit(1)).as("n_candidates"),
      sum("lbl").as("n_rel"),
      coalesce(min(when(col("lbl") === 1, col("rank"))), lit(0L)).as("first_rel_rank"),
      max(when(col("rank") === 1, col("lbl")).otherwise(0L)).as("hits_at_1"),
      sum("prec_micros").as("sum_prec_micros"))
    // floor(), not cast: DuckDB's double->int cast rounds while Spark's
    // truncates; floor is identical in both engines.
    .withColumn("ap_micros",
      when(col("n_rel") === 0, 0L)
        .otherwise(floor(col("sum_prec_micros") / col("n_rel")).cast("long")))
    .drop("sum_prec_micros")
  }

  /**
   * Mean precision@k for several k over query entities with >= 1
   * relevant candidate (/root/reference/common.py:300-308), in exact
   * micro-units: one row per k.
   */
  /** P@k grid matching the reference's logged ks
    * (/root/reference/common.py:300-308 logs P@1/3/5/10). Single
    * source of truth for [[pAtK]] and the DuckDB oracle. */
  final val DefaultKs: Seq[Int] = Seq(1, 3, 5, 10)

  def pAtK(scored: DataFrame, dist: Column, label: Column,
           ks: Seq[Int] = DefaultKs): DataFrame = {
    val w = Window.partitionBy("idA").orderBy(dist.asc, col("idB").asc)
    val ranked = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("lbl", label.cast("long"))
    val hitCols = ks.map(k =>
      sum(when(col("rank") <= k, col("lbl")).otherwise(0L)).as(s"hits_$k"))
    val perQuery = ranked.groupBy("idA")
      .agg(sum("lbl").as("n_rel"), hitCols: _*)
      .filter(col("n_rel") > 0)
    val spCols = ks.map(k =>
      sum(round(col(s"hits_$k") * 1000000.0 / k).cast("long")).as(s"sp_$k"))
    val agged = perQuery.agg(count(lit(1)).as("n_queries"), spCols: _*).head()
    val n = agged.getAs[Long]("n_queries")
    import scored.sparkSession.implicits._
    // n == 0 (no query with a relevant candidate): emit 0.0 rather than
    // NaN, matching a COALESCE'd oracle expression on degenerate inputs.
    ks.map(k => (k.toLong, n,
        if (n == 0) 0.0
        else agged.getAs[Long](s"sp_$k").toDouble / n / 1000000.0))
      .toDF("k", "n_queries", "mean_p_at_k")
  }

  /**
   * Fused single-pass evaluation: pairwise confusion metrics at a fixed
   * threshold AND the IR metrics (MRR/MAP/P@1), computed from ONE
   * ranking window + ONE per-query aggregation + ONE global
   * aggregation — the two-pass pairMetrics+irMetrics split costs a
   * second full shuffle of the scored pairs for no reason.
   */
  def fullEval(scored: DataFrame, dist: Column, label: Column,
               theta: Double): DataFrame = {
    val w = Window.partitionBy("idA").orderBy(dist.asc, col("idB").asc)
    val p = (dist <= theta).cast("int")
    val l = label.cast("int")
    val ranked = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("lbl", label.cast("long"))
      .withColumn("cum_rel", sum(col("lbl")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prec_micros",
        when(col("lbl") === 1,
          round(col("cum_rel") * 1000000.0 / col("rank")).cast("long"))
          .otherwise(0L))
      .withColumn("c_tp", when(p === 1 && l === 1, 1L).otherwise(0L))
      .withColumn("c_fp", when(p === 1 && l === 0, 1L).otherwise(0L))
      .withColumn("c_fn", when(p === 0 && l === 1, 1L).otherwise(0L))
      .withColumn("c_tn", when(p === 0 && l === 0, 1L).otherwise(0L))
    val perQuery = ranked.groupBy("idA").agg(
      sum("c_tp").as("tp"), sum("c_fp").as("fp"),
      sum("c_fn").as("fn"), sum("c_tn").as("tn"),
      sum("lbl").as("n_rel"),
      coalesce(min(when(col("lbl") === 1, col("rank"))), lit(0L))
        .as("first_rel_rank"),
      max(when(col("rank") === 1, col("lbl")).otherwise(0L)).as("hits_at_1"),
      sum("prec_micros").as("sum_prec_micros"))
    .withColumn("ap_micros",
      when(col("n_rel") === 0, 0L)
        .otherwise(floor(col("sum_prec_micros") / col("n_rel")).cast("long")))
    .withColumn("rr_micros",
      when(col("n_rel") === 0, 0L)
        .otherwise(round(lit(1000000.0) / col("first_rel_rank")).cast("long")))
    perQuery.agg(
      sum("tp").as("tp"), sum("fp").as("fp"),
      sum("fn").as("fn"), sum("tn").as("tn"),
      sum((col("n_rel") > 0).cast("long")).as("n_queries"),
      sum(when(col("n_rel") > 0, col("rr_micros")).otherwise(0L)).as("srr"),
      sum(when(col("n_rel") > 0, col("ap_micros")).otherwise(0L)).as("sap"),
      sum(when(col("n_rel") > 0, col("hits_at_1")).otherwise(0L)).as("sh1"))
    .select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fp"))).as("precision"),
      when(col("tp") + col("fn") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fn"))).as("recall"),
      when(col("tp") === 0, 0.0)
        .otherwise(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn")))
        .as("f1"),
      col("n_queries"),
      when(col("n_queries") === 0, 0.0)
        .otherwise(col("srr") / col("n_queries") / 1000000.0).as("mrr"),
      when(col("n_queries") === 0, 0.0)
        .otherwise(col("sap") / col("n_queries") / 1000000.0).as("map"),
      when(col("n_queries") === 0, 0.0)
        .otherwise((col("sh1") / col("n_queries")).cast("double")).as("p_at_1"))
  }

  /**
   * Global IR metrics over query entities that have >= 1 relevant
   * candidate (as the reference iterates only entities present in
   * true_pairs, /root/reference/common.py:282-294):
   * MRR, MAP, mean P@1.
   */
  def irMetrics(scored: DataFrame, dist: Column, label: Column): DataFrame = {
    val facts = irQueryFacts(scored, dist, label).filter(col("n_rel") > 0)
      .withColumn("rr_micros",
        round(lit(1000000.0) / col("first_rel_rank")).cast("long"))
    facts.agg(
      count(lit(1)).as("n_queries"),
      sum("rr_micros").as("srr"),
      sum("ap_micros").as("sap"),
      sum("hits_at_1").as("sh1"))
    .select(col("n_queries"),
      (col("srr") / col("n_queries") / 1000000.0).as("mrr"),
      (col("sap") / col("n_queries") / 1000000.0).as("map"),
      (col("sh1") / col("n_queries")).cast("double").as("p_at_1"))
  }

  /**
   * The evaluation protocol of every scored-pair tier: theta swept on
   * the TRAIN-split pairs only ([[graft.pipe.Threshold.bestThetaTrainSplit]]),
   * then pair metrics at `dist <= theta` on the TEST split — theta is
   * never tuned on the reported set. `scored` carries split_a/split_b
   * (and idA/idB when MRR is read).
   */
  def trainTest(scored: DataFrame, dist: Column): TrainTest =
    new TrainTest(scored, dist)

  final class TrainTest private[Metrics] (scored: DataFrame, dist: Column) {
    private val label = col("label")

    val theta: Double =
      graft.pipe.Threshold.bestThetaTrainSplit(scored, dist, label)

    /** The TEST-split pairs the metrics are reported on. */
    val test: DataFrame =
      scored.filter(col("split_a") === "test" && col("split_b") === "test")

    /** One row: confusion + precision/recall/F1/accuracy at theta. */
    val pair: DataFrame = pairMetrics(test, (dist <= theta).cast("int"), label)

    /** [[pair]] collected into a local DataFrame, so later actions on it
      * cannot re-trigger the scoring lineage. */
    def localPair: DataFrame =
      scored.sparkSession.createDataFrame(
        java.util.Arrays.asList(pair.collect(): _*), pair.schema)

    /** (f1, precision, recall) at theta and the test-split MRR. */
    def prfMrr: (Double, Double, Double, Double) = {
      val m = pair.head()
      val ir = irMetrics(test, dist, label).head()
      (m.getAs[Double]("f1"), m.getAs[Double]("precision"),
        m.getAs[Double]("recall"), ir.getAs[Double]("mrr"))
    }

    /** The trainer summary row: the `keys` config columns in order, then
      * theta, f1, precision, recall, mrr. */
    def summaryRow(keys: (String, Long)*): DataFrame = {
      val (f1, p, r, mrr) = prfMrr
      val schema = StructType(
        keys.map(k => StructField(k._1, LongType, nullable = false)) ++
          Seq("theta", "f1", "precision", "recall", "mrr")
            .map(StructField(_, DoubleType, nullable = false)))
      scored.sparkSession.createDataFrame(java.util.Arrays.asList(
        Row.fromSeq(keys.map(_._2) ++ Seq(theta, f1, p, r, mrr))), schema)
    }
  }
}
