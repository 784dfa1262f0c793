package graft.linkbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.pipe.Cluster

/**
 * Tests of the benchmark's own parts: the generator, the workload
 * shapes, the output checker (it must catch a dropped pair and a
 * flipped label) and the layer collector (spans must reconcile with the
 * walls). `SelfTest --work <dir> --golden <file>`; exits non-zero on
 * any failure.
 */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      println(f"ok   $name (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    } catch {
      case NonFatal(e) =>
        failures += name
        println(s"FAIL $name: $e")
    }
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Small enough to be quick, big enough that `c0` is salted. */
  private val Small = Gen.Shape(orders = 1500, perCustomer = 10, hotShare = 0.4)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val kv = argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    val work = Paths.get(kv("work")).toAbsolutePath.resolve("selftest")

    test("generator: same seed gives identical rows, another seed different rows") {
      for (w <- Main.Workloads) {
        val a = Gen.orders(w.shape, 7)
        expect(a.length == w.shape.orders, s"${w.name}: ${a.length} rows")
        expect(a.toSeq == Gen.orders(w.shape, 7).toSeq, s"${w.name}: seed 7 twice differs")
        val b = Gen.orders(w.shape, 8)
        val differ = a.indices.count(i => a(i) != b(i))
        expect(differ > a.length / 2, s"${w.name}: seeds 7 and 8 share ${a.length - differ} rows")
      }
    }

    test("generator: hot share is exact and hot orders carry custkey % 100 == 0") {
      for (w <- Main.Workloads) {
        val rows = Gen.orders(w.shape, 3)
        expect(rows.count(_.o_custkey % 100 == 0) == w.shape.hotOrders,
          s"${w.name}: ${rows.count(_.o_custkey % 100 == 0)} hot, want ${w.shape.hotOrders}")
      }
    }

    test("workload shapes: pairs per record, hot pair share and salting on seeds 1..5") {
      for (w <- Main.Workloads; seed <- 1L to 5L) {
        val (records, pairs, hot, hotA) = Gen.profile(Gen.orders(w.shape, seed))
        val ppr = pairs.toDouble / records
        val share = hot.toDouble / pairs
        expect(ppr >= w.pairsPerRecord._1 && ppr <= w.pairsPerRecord._2,
          s"${w.name} seed $seed: $ppr pairs per record, want ${w.pairsPerRecord}")
        expect(share >= w.hotPairShare._1 && share <= w.hotPairShare._2,
          s"${w.name} seed $seed: hot pair share $share, want ${w.hotPairShare}")
        expect((hotA >= Main.HotThreshold) == w.salted,
          s"${w.name} seed $seed: $hotA A-side rows in c0, salted should be ${w.salted}")
      }
    }

    val spark = Main.session(work)
    val input = work.resolve("input")
    Main.deleteTree(input)
    val rows = Gen.orders(Small, 11)
    Gen.write(rows, input)
    val table = input.resolve("orders.parquet")

    test("generator: one parquet file with one row group, rows as generated") {
      expect(Files.isRegularFile(table), s"$table is not one file")
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(table.toUri), spark.sparkContext.hadoopConfiguration))
      try expect(in.getRowGroups.size == 1, s"${in.getRowGroups.size} row groups")
      finally in.close()
      import spark.implicits._
      val back = spark.read.parquet(table.toString).as[Gen.Order].collect().sortBy(_.o_orderkey)
      expect(back.toSeq == rows.toSeq, "rows read back differ from the generated rows")
    }

    val out = Chain.run(spark, input.toString, Untraced)
    val (first, comps) = Check.chain(out, Map.empty, "small", 11)

    test("checker: the program's own output passes every check") {
      expect(first.forall(_.ok), first.filterNot(_.ok).mkString("; "))
      val labels = Cluster.assign(out.keyed.select("id"), Chain.edges(out.scored, out.theta))
      val r = Check.labels(comps, labels)
      expect(r.ok, r.detail)
    }

    test("checker: one dropped pair is caught") {
      val p = out.cand.select("idA", "idB").orderBy("idA", "idB").head()
      val keep = !(col("idA") === p.getLong(0) && col("idB") === p.getLong(1))
      val r = Check.pairCount(out.keyed, out.cand.filter(keep).count())
      expect(!r.ok, s"pair check passed: ${r.detail}")
      // a true test pair missing from the scored pairs changes tp or fn
      val t = Chain.test(out.scored).filter(col("label") === 1)
        .select("idA", "idB").orderBy("idA", "idB").head()
      val scored = out.scored.filter(!(col("idA") === t.getLong(0) && col("idB") === t.getLong(1)))
      val c = Check.confusion(scored, out.theta, out.eval)
      expect(!c.ok, s"confusion check passed: ${c.detail}")
    }

    test("checker: one flipped cluster label is caught") {
      val labels = Cluster.assign(out.keyed.select("id"), Chain.edges(out.scored, out.theta))
        .persist()
      val victim = labels.orderBy("id").head()
      val flipped = labels.withColumn("cluster",
        when(col("id") === victim.getLong(0), col("cluster") + 1).otherwise(col("cluster")))
      val r = Check.labels(comps, flipped)
      expect(!r.ok, s"label check passed: ${r.detail}")
      labels.unpersist(true)
    }

    test("checker: a changed golden value and a changed resumed summary are caught") {
      val g = Map(("small", 11L) -> Check.Golden(out.pairs, out.theta, out.f1, out.mrr, out.clusters))
      expect(Check.golden(g, "small", 11, out.pairs, out.theta, out.f1, Some(out.mrr),
        out.clusters).exists(_.ok), "golden check fails on the recorded values")
      expect(!Check.golden(g, "small", 11, out.pairs, out.theta, out.f1, Some(out.mrr),
        out.clusters + 1).exists(_.ok), "golden check misses a changed n_clusters")
      val row = org.apache.spark.sql.Row(0.1, 5L)
      expect(!Check.summaries(Seq(row), Seq(org.apache.spark.sql.Row(0.1, 6L))).ok,
        "resume check misses a changed summary")
    }
    out.release()

    test("layer collector: spans reconcile with the stage and chain walls within 10%") {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer
      val repId = tracer.begin("chain", 0, "t1")
      val probe = new Traced(spark.sparkContext, listener, tracer, "t1", repId)
      val traced = Chain.run(spark, input.toString, probe)
      val chain = tracer.end(repId)
      traced.release()
      spark.sparkContext.removeSparkListener(listener)
      val layers = probe.layers
      expect(layers.map(_.name) == Chain.Stages, s"layers ${layers.map(_.name)}")
      val stageSum = layers.map(_.wallS).sum
      val chainS = chain.durNs / 1e9
      expect(math.abs(stageSum - chainS) <= 0.1 * chainS,
        s"stage walls sum to $stageSum s, chain span $chainS s")
      val spans = tracer.all
      for (l <- layers) {
        val st = spans.find(s => s.name == l.name && s.parent == repId).get
        val jobs = spans.filter(_.parent == st.id)
        expect(jobs.length == l.jobs, s"${l.name}: ${jobs.length} job spans, ${l.jobs} jobs")
        expect(l.jobs > 0, s"${l.name}: no Spark job seen")
        jobs.foreach { j =>
          expect(j.startMs >= st.startMs - 5 && j.endMs <= st.endMs + 5,
            s"${l.name}: ${j.name} [${j.startMs}, ${j.endMs}] outside [${st.startMs}, ${st.endMs}]")
        }
        val jobS = l.wallS - l.driverS
        expect(l.taskS <= Main.Cpus * jobS * 1.1 + 0.05,
          s"${l.name}: ${l.taskS} task-s exceeds ${Main.Cpus} cores x $jobS s of jobs")
      }
    }

    spark.stop()
    Main.deleteTree(work)
    if (failures.nonEmpty) {
      println(s"${failures.length} failed: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    println("all passed")
  }
}
