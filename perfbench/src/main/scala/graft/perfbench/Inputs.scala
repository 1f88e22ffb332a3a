package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every column is a pure function of
  * (seed, row id) through `xxhash64`, so the same seed gives the same
  * tables on any core count, and another seed gives other tables.
  *
  * The TPC-H-shaped tables and `events` follow the schemas and
  * marginals of the repo's testdata tiers (uniform keys and dates,
  * the same value domains), so the `SparkEntry` gates and their DuckDB
  * oracles run on them unchanged. `documents` and `embeddings` come
  * from `DataGen` over a seed-shifted id window, renumbered from 0
  * (the corpus gates plant rows at fixed low ids).
  */
object Inputs {

  /** Row counts of one input set; `scale` multiplies every table. */
  final case class Sizes(customers: Long, orders: Long, events: Long, users: Long,
                         documents: Long, embeddings: Long)

  /** Sized so that a run fits the benchmark's time budget (see
    * perfbench/README.md). At scale 1 the exec phases of the
    * `corpus_dedup` steps are a majority of its pass, and tasks keep
    * the cores busy for about 45% of it. `medallion_etl` stays dominated
    * by fixed per-query costs at any size the budget allows (tasks busy
    * about 25% of a pass at scale 1, 32% at 4x, 51% at 10x).
    */
  def sizes(scale: Double): Sizes = {
    def n(base: Long): Long = math.max(10L, math.round(base * scale))
    Sizes(customers = n(2250), orders = n(22500), events = n(30000), users = n(225),
      documents = n(3000), embeddings = n(1200))
  }

  /** Tables each workload reads. */
  val tables: Map[String, Seq[String]] = Map(
    "medallion_etl" -> Seq("nation", "customer", "orders", "events"),
    "corpus_dedup" -> Seq("documents", "embeddings"))

  private final class Gen(seed: Long) {
    def h(k: Int, c: Column): Column = xxhash64(lit(seed), lit(k), c)
    def pick(k: Int, c: Column, n: Long): Column = pmod(h(k, c), lit(n))
    def u(k: Int, c: Column): Column =
      pmod(h(k, c), lit(1000000000L)).cast("double") / lit(1e9)
    def oneOf(k: Int, c: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(k, c, xs.size.toLong) + 1).cast("int"))
    def day(k: Int, c: Column, from: String, days: Long): Column =
      date_add(lit(from).cast("date"), pick(k, c, days).cast("int")).cast("timestamp_ntz")
  }

  private def table(spark: SparkSession, name: String, sz: Sizes, seed: Long): DataFrame = {
    val g = new Gen(seed)
    val id = col("id")
    name match {
      case "nation" =>
        spark.range(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        spark.range(sz.customers).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          g.pick(1, id, 25).cast("int").as("c_nationkey"),
          round(g.u(2, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
          g.oneOf(3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY")).as("c_mktsegment"))
      case "orders" =>
        spark.range(sz.orders).select(id.as("o_orderkey"),
          g.pick(6, id, sz.customers).as("o_custkey"),
          g.oneOf(7, id, Seq("O", "F", "P")).as("o_orderstatus"),
          round(g.u(8, id) * 498964.89 + 1013.7, 2).as("o_totalprice"),
          g.day(9, id, "1995-01-01", 2404).as("o_orderdate"),
          g.oneOf(10, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW")).as("o_orderpriority"))
      case "events" =>
        // strictly increasing ts in event_id order (as in the testdata):
        // one slot of 30 days / n per event, jittered inside the slot
        val slotUs = math.max(1L, 30L * 86400L * 1000000L / sz.events)
        val startUs = 1704067200L * 1000000L // 2024-01-01T00:00:00
        spark.range(sz.events).select(id.as("event_id"),
          timestamp_micros(lit(startUs) + id * lit(slotUs) + g.pick(22, id, slotUs))
            .cast("timestamp_ntz").as("ts"),
          g.pick(23, id, sz.users).as("user_id"),
          g.oneOf(24, id, Seq("click", "view", "purchase", "signup", "error"))
            .as("event_type"),
          round(g.u(25, id) * 490.01 + 0.01, 2).as("value"),
          concat(lit("{\"k\": "), g.pick(26, id, 100).cast("string"), lit("}"))
            .as("props"))
      case "documents" =>
        val off = windowStart(seed, 625L)
        graft.sources.DataGen.documents(spark, off + sz.documents)
          .where(col("doc_id") >= off)
          .withColumn("doc_id", col("doc_id") - off)
      case "embeddings" =>
        val off = windowStart(seed, 1000L)
        graft.sources.DataGen.embeddings(spark, off + sz.embeddings)
          .where(col("vec_id") >= off)
          .withColumn("vec_id", col("vec_id") - off)
    }
  }

  /** Start of the seed's id window, a multiple of `stride` so the
    * generator's periodic plantings (exact dups every 625 ids) stay
    * aligned with the renumbered ids.
    */
  private def windowStart(seed: Long, stride: Long): Long =
    java.lang.Math.floorMod(seed, 9973L) * stride

  /** Write the workload's tables under `dir` (`<dir>/<table>.parquet`). */
  def generate(spark: SparkSession, workload: String, dir: String,
               sz: Sizes, seed: Long): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    tables(workload).foreach { t =>
      val df = table(spark, t, sz, seed)
      val out = if (t == "nation") df.coalesce(1) else df.repartition(parts)
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }

  /** Order-independent content hash per table: bit_xor of each row's
    * xxhash64 over all columns.
    */
  def fingerprints(spark: SparkSession, workload: String, dir: String): Seq[(String, String)] =
    tables(workload).map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)))
        .head()
      t -> f"${r.getLong(0)}:${r.getLong(1)}%016x"
    }
}
