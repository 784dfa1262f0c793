package graft.linkbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/**
 * Records golden (n_pairs, theta, f1, mrr, n_clusters) values for every
 * workload and each seed in `--first`..`--last`, merged into the
 * `--golden` file. Each value comes from a chain repetition that passed
 * every independent check.
 */
object Record {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val kv = argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    val path = Paths.get(kv("golden")).toAbsolutePath
    val spark = Main.session(work)
    val table = collection.mutable.TreeMap.empty[(String, Long), Check.Golden] ++
      Check.readGolden(path)
    for (seed <- kv("first").toLong to kv("last").toLong; w <- Main.Workloads) {
      val input = work.resolve("input").resolve(s"${w.name}-golden")
      Main.deleteTree(input)
      Gen.write(Gen.orders(w.shape, seed), input)
      val out = Chain.run(spark, input.toString, Untraced)
      val (rs, _) = Check.chain(out, Map.empty, w.name, seed)
      out.release()
      Main.deleteTree(input)
      val bad = rs.filterNot(_.ok)
      require(bad.isEmpty, s"${w.name} seed $seed: ${bad.mkString("; ")}")
      table((w.name, seed)) = Check.Golden(out.pairs, out.theta, out.f1, out.mrr, out.clusters)
      System.err.println(s"[linkbench] ${table((w.name, seed)).tsv(w.name, seed)}")
    }
    spark.stop()
    val header = "# workload\tseed\tn_pairs\ttheta\tf1\tmrr\tn_clusters"
    Files.write(path, (header +: table.map { case ((w, s), g) => g.tsv(w, s) }.toSeq).asJava)
  }
}
