package graft.linkbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ckpt.Checkpoint
import graft.sim.Scorer

/**
 * The linkage benchmark: one workload, one seed, one JVM.
 *
 * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *  --work <dir> --golden <file>`
 *
 * 1. Set-up (`setup_s`): session start, the program's once-per-JVM warm
 *    passes (`Synth`'s keyed+blocking pass, `Scorer.warmKernels`) and
 *    one untimed warm repetition of the chain on an eighth of the
 *    input. Generating the seeded `orders.parquet` inputs is not
 *    counted.
 * 2. Closed loop, one client: repeats the six-stage chain for
 *    `--seconds`, and at least [[MinReps]] times, checking every
 *    output.
 * 3. With `--trace 1`, runs instead a traced and then an untraced
 *    repetition, the kernel microbenchmark and a traced cold + resumed
 *    checkpointed `Pipeline.run`, and reports per-layer figures.
 * The last stdout line is the result object.
 */
object Main {

  /** A named input shape and the linkage shape it must give: pairs per
    * record, share of pairs in the hot block `c0`, and whether `c0` is
    * big enough for `Blocking.candidates` to salt it. */
  final case class Workload(name: String, shape: Gen.Shape,
                            pairsPerRecord: (Double, Double),
                            hotPairShare: (Double, Double), salted: Boolean)

  /** Sizes fit the run budget at local[4]; see the README. */
  val Workloads: Seq[Workload] = Seq(
    Workload("link-hot", Gen.Shape(orders = 4400, perCustomer = 10, hotShare = 600.0 / 4400),
      pairsPerRecord = (35.0, 50.0), hotPairShare = (0.85, 0.95), salted = true),
    Workload("link-sparse", Gen.Shape(orders = 30000, perCustomer = 1.5, hotShare = 0.0),
      pairsPerRecord = (1.0, 1.4), hotPairShare = (0.0, 0.0), salted = false))

  /** A-side rows at which `Blocking.candidates` salts a block. */
  val HotThreshold = 500

  val Cpus = 4
  /** Measured repetitions per run, at the least: `link_s` is their
    * median. */
  val MinReps = 2
  /** The warm repetition's input: this fraction of the workload's orders. */
  val WarmFraction = 8
  val KernelPairs = 2000

  def session(work: Path): SparkSession = {
    // graft.Bench.session's configuration at local[4], with scratch
    // space kept inside the work directory
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", (Cpus * 2).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${512 * 1024}")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  /** (bytes, files) of the regular files under `p`. */
  def du(p: Path): (Long, Long) = {
    val w = Files.walk(p)
    try {
      val fs = w.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (fs.map(Files.size(_)).sum, fs.length.toLong)
    } finally w.close()
  }

  /** Result line metrics, in print order: name -> (unit, value). */
  type Report = mutable.LinkedHashMap[String, (String, Double)]

  /** Counts operations and their failures; prints each failed check. */
  final class Ops {
    var attempted = 0
    var failed = 0
    def record(what: String)(results: => Seq[Check.Result]): Unit = {
      attempted += 1
      val ok =
        try {
          val bad = results.filterNot(_.ok)
          bad.foreach(r => System.err.println(s"[linkbench] $what: check ${r.name} failed: ${r.detail}"))
          bad.isEmpty
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[linkbench] $what threw: $e")
            false
        }
      if (!ok) failed += 1
    }
  }

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, golden: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.find(_.name == need("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${need("workload")}; known: ${Workloads.map(_.name).mkString(", ")}"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(w, need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("golden")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    Heap.install()
    val tag = s"${a.workload.name}-seed${a.seed}"
    val input = a.work.resolve("input").resolve(tag)
    val warmInput = a.work.resolve("input").resolve(s"$tag-warm")
    val ckpt = a.work.resolve("ckpt").resolve(tag)
    val golden = Check.readGolden(a.golden)
    val ops = new Ops
    val report: Report = mutable.LinkedHashMap.empty

    // ---- set-up, with input generation excluded ----
    val s0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = seconds(s0)
    deleteTree(input)
    deleteTree(warmInput)
    val inputBytes = Gen.write(Gen.orders(a.workload.shape, a.seed), input)
    val shape = a.workload.shape
    Gen.write(Gen.orders(shape.copy(orders = shape.orders / WarmFraction), a.seed), warmInput)
    val genS = seconds(s0) - sessionS
    val s1 = System.nanoTime()
    graft.gen.Synth.records(spark, warmInput.toString) // once-per-JVM warm pass
    Scorer.warmKernels()
    val warmS = seconds(s1)
    // An untimed warm repetition: after the program's warm passes the
    // first chain still runs 1.2-1.4x slower than the next, mostly in
    // per-job planning and the later stages' code. Those costs hardly
    // depend on the input size, so a smaller input of the same shape
    // warms them at a fraction of a full chain's time.
    val w0 = System.nanoTime()
    Chain.run(spark, warmInput.toString, Untraced).release()
    val warmChainS = seconds(w0)
    val setupS = sessionS + warmS + warmChainS
    System.err.println(f"[linkbench] set-up: session $sessionS%.2f s, warm passes $warmS%.2f s, " +
      f"warm repetition $warmChainS%.2f s; input generation $genS%.2f s")

    if (!a.trace) {
      // ---- measured closed loop, tracing off ----
      val (walls, pairs) = loop(spark, a, input, golden, ops, a.seconds)
      val linkS = median(walls)
      report("setup_s") = "s" -> setupS
      report("link_s") = "s" -> linkS
      report("pairs_per_s") = "1/s" -> pairs / linkS
      report("live_heap_peak_mb") = "MB" -> Heap.peakMb
    } else {
      traced(spark, a, input, inputBytes, ckpt, golden, ops, report)
      report("setup.session_s") = "s" -> sessionS
      report("setup.warm_s") = "s" -> warmS
      report("setup.warm_chain_s") = "s" -> warmChainS
      report("ops.failed_share") = "share" -> ops.failed.toDouble / ops.attempted
    }
    spark.stop()
    deleteTree(input)
    deleteTree(warmInput)
    deleteTree(ckpt)

    val complete = report.values.forall(v => !v._2.isNaN && !v._2.isInfinite)
    if (!complete) {
      System.err.println("[linkbench] a metric could not be measured; no result")
      sys.exit(1)
    }
    val ms = report.map { case (k, (u, v)) => s""""$k": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }

  /**
   * One untraced chain repetition, checked. Returns its wall (NaN if it
   * threw; a failed check still returns the wall: the time is real) and
   * its pair count. The heap peak counts the collections during the
   * chain. A full GC after the checks, while the chain's cached frames
   * are still held, logs the live heap and lets every repetition start
   * from a collected heap.
   */
  private def chain(spark: SparkSession, a: Args, input: Path,
                    golden: Map[(String, Long), Check.Golden], ops: Ops,
                    what: String): (Double, Long) = {
    var wall = Double.NaN
    var pairs = 0L
    var heap = Double.NaN
    ops.record(what) {
      val out = Heap.during(Chain.run(spark, input.toString, Untraced))
      wall = out.wallS
      pairs = out.pairs
      val c0 = System.nanoTime()
      try Check.chain(out, golden, a.workload.name, a.seed)._1
      finally {
        heap = Heap.sampleLive()
        out.release()
        System.err.println(f"[linkbench] $what: chain ${out.wallS}%.2f s " +
          out.stageS.map { case (k, v) => f"$k $v%.2f" }.mkString("(", ", ", ")") +
          f", checks ${seconds(c0)}%.2f s, live heap $heap%.1f MB, heap peak ${Heap.peakMb}%.1f MB")
      }
    }
    (wall, pairs)
  }

  /** Untraced repetitions until `seconds` have passed and at least
    * [[MinReps]] ran. */
  private def loop(spark: SparkSession, a: Args, input: Path,
                   golden: Map[(String, Long), Check.Golden], ops: Ops,
                   seconds: Double): (Seq[Double], Long) = {
    val reps = mutable.ArrayBuffer.empty[(Double, Long)]
    val m0 = System.nanoTime()
    while (reps.length < MinReps || Main.seconds(m0) < seconds)
      reps += chain(spark, a, input, golden, ops, s"repetition ${reps.length + 1}")
    (reps.map(_._1).filterNot(_.isNaN).toSeq, reps.map(_._2).max)
  }

  /** The traced part of a `--trace 1` run: per-layer figures. */
  private def traced(spark: SparkSession, a: Args, input: Path, inputBytes: Long, ckpt: Path,
                     golden: Map[(String, Long), Check.Golden], ops: Ops,
                     report: Report): Unit = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val tracer = new Tracer
    // the untraced repetition for the overhead comes after the traced
    // one: the JVM is still getting faster, so the overhead reads high
    // rather than low
    val chainId = tracer.begin("chain", 0, "traced")
    val probe = new Traced(sc, listener, tracer, "traced", chainId)
    val out = Chain.run(spark, input.toString, probe)
    val chainSpan = tracer.end(chainId)
    var comps: Check.Components = null
    ops.record("traced repetition") {
      val (rs, c) = Check.chain(out, golden, a.workload.name, a.seed)
      comps = c
      rs
    }
    for (l <- probe.layers) {
      report(s"${l.name}.wall_s") = "s" -> l.wallS
      report(s"${l.name}.jobs") = "count" -> l.jobs.toDouble
      report(s"${l.name}.task_s") = "s" -> l.taskS
      report(s"${l.name}.skew") = "ratio" -> l.skew
      report(s"${l.name}.shuffle_mb") = "MB" -> l.shuffleMb
      report(s"${l.name}.spill_mb") = "MB" -> l.spillMb
      report(s"${l.name}.driver_s") = "s" -> l.driverS
      report(s"${l.name}.gc_s") = "s" -> l.gcS
    }

    // counts of the traced repetition's outputs
    val scorerTaskS = probe.layers.find(_.name == "scorer").get.taskS
    report("scorer.pairs_per_task_s") = "1/s" -> out.pairs / scorerTaskS
    report("scorer.exact_share") = "share" ->
      out.scored.filter(col("lev") === 1.0).count().toDouble / out.pairs
    val sides = out.keyed.groupBy("block_key", "side").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val hotPairs = sides.collect {
      case ((k, "A"), n) if n >= HotThreshold => n * sides.getOrElse((k, "B"), 0L)
    }.sum
    report("blocking.pairs_per_record") = "pairs/record" -> out.pairs.toDouble / out.records
    report("blocking.hot_pair_share") = "share" -> hotPairs.toDouble / out.pairs
    report("keyed.rows") = "count" -> out.records.toDouble
    report("cluster.edges") = "count" -> comps.edges.toDouble
    report("cluster.components") = "count" -> comps.count.toDouble
    report("cluster.max_component") = "count" -> comps.maxSize.toDouble
    report("cache.mb") = "MB" -> sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val (jw, lev, vec, cos) = Kernels.run(Kernels.sample(out.cand, a.seed, KernelPairs))
    report("stringsim.jw_ns") = "ns" -> jw
    report("stringsim.lev_ns") = "ns" -> lev
    report("embed.vector_ns") = "ns" -> vec
    report("embed.cosine_ns") = "ns" -> cos
    out.release()
    val untracedS = chain(spark, a, input, golden, ops, "untraced repetition")._1

    // a traced cold run, then a resume after dropping the `scored` checkpoint
    def pipelineRun(name: String): (Layer, Pipeline.Outputs) = {
      val probe = new Traced(sc, listener, tracer, name, 0)
      val out = probe.layer("pipeline")(Pipeline.run(spark, input.toString, Some(ckpt.toString)))
      (probe.layers.head, out)
    }
    deleteTree(ckpt)
    val (coldL, coldOut) = pipelineRun("cold")
    val coldSummary = coldOut.summary.collect().toSeq
    ops.record("traced cold pipeline")(Check.pipeline(coldOut, golden, a.workload.name, a.seed))
    coldOut.scored.unpersist(true)
    val stages = Seq("keyed", "candidates", "scored", "clusters")
    val writeS = stages.flatMap(Checkpoint.meta(ckpt.toString, _)).map(_("wall_ms").toLong).sum / 1000.0
    val (bytes, files) = du(ckpt)
    deleteTree(ckpt.resolve("scored"))
    Files.deleteIfExists(ckpt.resolve("scored._meta.json"))
    spark.sharedState.cacheManager.clearCache()
    val (resL, resOut) = pipelineRun("resume")
    ops.record("traced resumed pipeline") {
      Check.summaries(coldSummary, resOut.summary.collect().toSeq) +:
        Check.pipeline(resOut, golden, a.workload.name, a.seed)
    }
    resOut.scored.unpersist(true)
    spark.sharedState.cacheManager.clearCache()
    report("checkpoint.write_s") = "s" -> writeS
    report("checkpoint.mb") = "MB" -> bytes / 1e6
    report("checkpoint.files") = "count" -> files.toDouble
    report("checkpoint.bytes_per_input_byte") = "B/B" -> bytes.toDouble / inputBytes
    report("checkpoint.cold_s") = "s" -> coldL.wallS
    report("checkpoint.resume_s") = "s" -> resL.wallS
    for ((p, l) <- Seq("cold" -> coldL, "resume" -> resL)) {
      report(s"pipeline.${p}_jobs") = "count" -> l.jobs.toDouble
      report(s"pipeline.${p}_task_s") = "s" -> l.taskS
      report(s"pipeline.${p}_shuffle_mb") = "MB" -> l.shuffleMb
      report(s"pipeline.${p}_driver_s") = "s" -> l.driverS
    }
    report("trace.link_s") = "s" -> out.wallS
    report("trace.untraced_link_s") = "s" -> untracedS
    report("trace.overhead_share") = "share" -> (out.wallS / untracedS - 1.0)
    report("trace.chain_self_s") = "s" -> tracer.selfSeconds(chainSpan)
    sc.removeSparkListener(listener)
    tracer.write(a.work.resolve("trace").resolve(s"${a.workload.name}-seed${a.seed}.json"))
  }
}
