package graft.linkbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/**
 * Seeded input generator: a TPC-H `orders` table in the schema that
 * `gen.Synth.records` reads (o_orderkey, o_custkey, o_orderstatus,
 * o_totalprice, o_orderdate, o_orderpriority), written as ONE parquet
 * file `<dir>/orders.parquet` with ONE row group, like the
 * repository's testdata, so `sources.Scan.parquet` takes its
 * repartition path.
 *
 * Three knobs set the linkage shape:
 *  - `orders`: the order count (Synth emits ~1.89 records per order);
 *  - `perCustomer`: mean orders per customer — customers are drawn
 *    uniformly, so block sizes are Poisson around this mean, as in
 *    TPC-H;
 *  - `hotShare`: the exact fraction of orders given a customer with
 *    `custkey % 100 == 0`; Synth merges all of them into block `c0`.
 * Order keys are 0 until `orders`, as in the testdata; everything else
 * comes from the seed.
 */
object Gen {

  final case class Shape(orders: Int, perCustomer: Double, hotShare: Double) {
    require(orders > 0 && perCustomer > 0 && hotShare >= 0 && hotShare < 1)
    def customers: Long = math.max(200L, math.round(orders / perCustomer))
    def hotOrders: Int = math.round(hotShare * orders).toInt
  }

  final case class Order(
      o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp,
      o_orderpriority: String)

  private val Statuses = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val FirstDay = 8035L // 1992-01-01 in epoch days
  private val Days = 2557      // through 1998-12-31

  /** The orders for `shape` and `seed`; the same arguments give the
    * same rows. */
  def orders(shape: Shape, seed: Long): Array[Order] = {
    // split(): nearby seeds must not give shifted copies of one stream
    val rnd = new java.util.SplittableRandom(seed).split()
    val n = shape.orders
    // exactly hotOrders hot rows: a partial Fisher-Yates pick
    val idx = Array.tabulate(n)(identity)
    val hot = new Array[Boolean](n)
    var i = 0
    while (i < shape.hotOrders) {
      val j = i + rnd.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      hot(idx(i)) = true
      i += 1
    }
    val custs = shape.customers
    val hotCusts = math.max(1L, custs / 100)
    Array.tabulate(n) { k =>
      val ck =
        if (hot(k)) 100L * rnd.nextLong(hotCusts)
        else {
          var c = rnd.nextLong(custs)
          while (c % 100 == 0) c = rnd.nextLong(custs)
          c
        }
      val price = math.round((850.0 + rnd.nextDouble() * 554000.0) * 100) / 100.0
      val day = FirstDay + rnd.nextInt(Days)
      Order(k.toLong, ck, Statuses(rnd.nextInt(3)), price,
        new java.sql.Timestamp(day * 86400000L),
        Priorities(rnd.nextInt(Priorities.length)))
    }
  }

  private val Schema = MessageTypeParser.parseMessageType(
    """message orders {
      |  optional int64 o_orderkey;
      |  optional int64 o_custkey;
      |  optional binary o_orderstatus (STRING);
      |  optional double o_totalprice;
      |  optional int64 o_orderdate (TIMESTAMP(MICROS,true));
      |  optional binary o_orderpriority (STRING);
      |}""".stripMargin)

  /** Writes `<dir>/orders.parquet` (one file, one row group) with the
    * plain parquet writer, no Spark job, and returns its size in bytes. */
  def write(rows: Array[Order], dir: Path): Long = {
    Files.createDirectories(dir)
    val out = dir.resolve("orders.parquet")
    val groups = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new HPath(out.toUri))
      .withConf(new Configuration())
      .withType(Schema)
      .withRowGroupSize(1L << 30)
      .build()
    try rows.foreach { o =>
      w.write(groups.newGroup()
        .append("o_orderkey", o.o_orderkey)
        .append("o_custkey", o.o_custkey)
        .append("o_orderstatus", o.o_orderstatus)
        .append("o_totalprice", o.o_totalprice)
        .append("o_orderdate", o.o_orderdate.getTime * 1000L)
        .append("o_orderpriority", o.o_orderpriority))
    } finally w.close()
    Files.size(out)
  }

  /** Closed-form linkage shape of generated orders, replaying Synth's
    * side filters and block keys: (records, pairs, pairs in `c0`,
    * A-side rows in `c0`). */
  def profile(rows: Array[Order]): (Long, Long, Long, Long) = {
    val a = scala.collection.mutable.HashMap.empty[Long, Long]
    val b = scala.collection.mutable.HashMap.empty[Long, Long]
    var records = 0L
    rows.foreach { o =>
      val block = if (o.o_custkey % 100 == 0) 0L else o.o_custkey
      if (o.o_orderkey % 17 != 5) { a(block) = a.getOrElse(block, 0L) + 1; records += 1 }
      if (o.o_orderkey % 19 != 7) { b(block) = b.getOrElse(block, 0L) + 1; records += 1 }
    }
    val pairs = a.iterator.map { case (k, n) => n * b.getOrElse(k, 0L) }.sum
    val hot = a.getOrElse(0L, 0L) * b.getOrElse(0L, 0L)
    (records, pairs, hot, a.getOrElse(0L, 0L))
  }
}
