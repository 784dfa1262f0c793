package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipe.{Blocking, Normalize}

class SynthBlockingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  test("synth records are deterministic and well-formed") {
    val r1 = gen.Synth.records(spark, sf)
    val r2 = gen.Synth.records(spark, sf)
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty)
    assert(r1.select("id").distinct().count() == r1.count())
    assert(r1.filter(col("content") === "" || col("content").isNull).count() == 0)
    assert(r1.select("side").distinct().count() == 2)
    // the scorer memoizes record vectors per partition by id alone
    // (sim/Scorer.scala): an id on both sides would score one record's
    // text for the other
    val ids = (side: String) => r1.filter(col("side") === side).select("id")
    assert(ids("A").intersect(ids("B")).isEmpty)
  }

  test("sha column is sha2-256 of raw content (row invariant)") {
    val n = Normalize(gen.Synth.records(spark, sf))
    assert(n.filter(col("sha") =!= sha2(col("content"), 256)).count() == 0)
    // normalization collapses the whitespace/case perturbations
    assert(n.filter(col("content_norm") =!= trim(regexp_replace(lower(col("content")), "\\s+", " "))).count() == 0)
  }

  test("blocking recall is 1.0: every linkable entity pair is a candidate") {
    val keyed = Blocking.withBlockKey(Normalize(gen.Synth.records(spark, sf)))
    val a = keyed.filter(col("side") === "A").select(col("dni").as("d"), col("block_key").as("ka"))
    val b = keyed.filter(col("side") === "B").select(col("dni").as("d"), col("block_key").as("kb"))
    val both = a.join(b, "d")
    // dup perturbations preserve the block token -> same key on both sides
    assert(both.filter(col("ka") =!= col("kb")).count() == 0)
    val cand = Blocking.candidates(keyed)
    val truth = both.count()
    val truthInCand = cand.filter(col("dni_a") === col("dni_b")).count()
    assert(truthInCand == truth)
    assert(cand.select("idA").intersect(cand.select("idB")).isEmpty)
  }

  test("full-index mode pairs every A with every B, guard rail refuses oversize") {
    val keyed = Blocking.withBlockKey(Normalize(gen.Synth.records(spark, sf)))
      .filter(col("dni") % 211 === 0)
    val full = Blocking.fullIndex(keyed)
    val nA = keyed.filter(col("side") === "A").count()
    val nB = keyed.filter(col("side") === "B").count()
    assert(full.count() == nA * nB)
    intercept[IllegalArgumentException] {
      Blocking.fullIndex(keyed, maxPairs = 10)
    }
  }

  test("salted candidate join equals the plain equi-join (set equality)") {
    val keyed = Blocking.withBlockKey(Normalize(gen.Synth.records(spark, sf)))
    val plain = Blocking.candidates(keyed, salts = 1).select("idA", "idB")
    val salted = Blocking.candidates(keyed, salts = 8, hotThreshold = 10)
      .select("idA", "idB")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("adversarially skewed key is salted across partitions, output unchanged") {
    import spark.implicits._
    // one hot key with 100x the rows of the tail keys
    val rows = (0 until 100).flatMap { i =>
      Seq((i.toLong * 2, "A", "hot", s"text a $i", i.toLong, "train"),
          (i.toLong * 2 + 1, "B", "hot", s"text b $i", i.toLong, "train"))
    } ++ (0 until 10).flatMap { i =>
      Seq((1000L + i * 2, "A", s"t$i", s"tail a $i", 500L + i, "train"),
          (1001L + i * 2, "B", s"t$i", s"tail b $i", 500L + i, "train"))
    }
    val keyed = rows.toDF("id", "side", "block_key", "content_norm", "dni", "split")
    val plain = Blocking.candidates(keyed, salts = 1).select("idA", "idB")
    val salted = Blocking.candidates(keyed, salts = 4, hotThreshold = 50)
    assert(plain.count() == 100L * 100 + 10) // hot cross + tail pairs
    assert(salted.count() == plain.count())
    assert(salted.select("idA", "idB").exceptAll(plain).isEmpty)
    // AQE coalesces KB-sized test shuffles to one partition; disable it
    // to observe that salting spreads the hot block.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val hotParts = Blocking.candidates(keyed, salts = 4, hotThreshold = 50)
        .filter(col("block_key") === "hot")
        .select(spark_partition_id()).distinct().count()
      assert(hotParts > 1, s"hot block should span >1 partition, got $hotParts")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
  }
}
