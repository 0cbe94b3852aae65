package graftbench

import org.apache.spark.sql.SparkSession

import scala.util.Random

/** Seeded synthetic inputs with the schema of the engine's TPC-H-shaped
  * source tables (the columns `rdf.Triples.build` reads). The same seed
  * always yields the same rows; the engine only ever sees these files. */
object Data {
  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments =
    Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Vector("F", "O", "P")
  val Nations = 25

  final case class Customer(key: Long, name: String, nation: Int, seg: String)
  final case class Order(key: Long, cust: Long, status: String, priority: String)
  /** `nationRegion(n)` is nation n's region key. */
  final case class Tpch(nationRegion: Vector[Int],
      customers: Vector[Customer], orders: Vector[Order])

  def tpch(seed: Long, customers: Int, orders: Int): Tpch = {
    val r = new Random(seed)
    // every region keeps at least one nation
    val nr = Vector.tabulate(Nations)(n =>
      if (n < Regions.size) n else r.nextInt(Regions.size))
    val cs = Vector.tabulate(customers)(k => Customer(k.toLong,
      f"Customer#$k%09d", r.nextInt(Nations), Segments(r.nextInt(5))))
    val os = Vector.tabulate(orders)(k => Order(k.toLong,
      r.nextInt(customers).toLong, Statuses(r.nextInt(3)),
      Priorities(r.nextInt(5))))
    Tpch(nr, cs, os)
  }

  def writeTpch(spark: SparkSession, t: Tpch, dir: String): Unit = {
    import spark.implicits._
    Regions.zipWithIndex.map { case (n, k) => (k, n) }
      .toDF("r_regionkey", "r_name").write.parquet(s"$dir/region.parquet")
    t.nationRegion.zipWithIndex.map { case (r, n) => (n, s"NATION_$n", r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    t.customers.map(c => (c.key, c.name, c.nation, c.seg))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .repartition(4).write.parquet(s"$dir/customer.parquet")
    t.orders.map(o => (o.key, o.cust, o.status, o.priority))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .repartition(4).write.parquet(s"$dir/orders.parquet")
  }
}
