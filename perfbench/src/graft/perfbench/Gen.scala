package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the benchmark's input tables. It writes the
  * same ten tables, with the same schemas and value domains, that the
  * library's table loaders ([[graft.Tables]]) and declared queries read,
  * plus `raw_log`, the reference's append-only event log that
  * [[graft.Pipeline.run]] consumes.
  *
  * Every value is a pure function of (seed, salt, row id) through
  * `xxhash64`, so the output does not depend on partitioning, task order
  * or the host: one seed always writes the same rows.
  */
object Gen {

  /** Row counts. `sf` scales the relational tables the way the
    * TPC-H-like testdata does; documents and embeddings are explicit.
    */
  final case class Sizes(sf: Double, docs: Long, embeddings: Long) {
    def customers: Long = (150000 * sf).round.max(10)
    def suppliers: Long = (10000 * sf).round.max(5)
    def parts: Long = (200000 * sf).round.max(10)
    def orders: Long = (1500000 * sf).round.max(10)
    def lineitems: Long = (6000000 * sf).round.max(10)
    def events: Long = (1000000 * sf).round.max(10)
    def users: Long = (15000 * sf).round.max(3)
    def rawRows: Long = (200000 * sf).round.max(60)
  }

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private val Two40 = 1L << 40

  /** Uniform double in [0, 1) from (seed, salt, cols). */
  private def u(seed: Long, salt: Int, cs: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cs): _*), lit(Two40))
      .cast("double") / lit(Two40.toDouble)

  private def pick(seed: Long, salt: Int, values: Seq[String], cs: Column*): Column =
    element_at(array(values.map(lit): _*),
      (u(seed, salt, cs: _*) * values.size).cast("int") + 1)

  private def ntz(days: Column, base: String): Column =
    expr(s"timestamp_ntz'$base 00:00:00'") + make_dt_interval(days.cast("int"))

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Write every table named in `tables` under `dir`, several at once
    * (each write is a small single-task job).
    */
  def write(spark: SparkSession, dir: String, seed: Long, n: Sizes,
      tables: Set[String]): Unit = {
    val frames = this.frames(spark, seed, n).filter { case (t, _) => tables(t) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      frames.map { case (t, df) => pool.submit(new Runnable {
        def run(): Unit = write(df(), dir, t)
      }) }.foreach(_.get())
    } finally pool.shutdown()
  }

  private def frames(spark: SparkSession, seed: Long, n: Sizes): Seq[(String, () => DataFrame)] = {
    val id = col("id")
    def rows(k: Long) = spark.range(0, k, 1, 1)
    Seq(
      "region" -> (() => spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
            .zipWithIndex.map { case (r, i) => (i, r) })
          .toDF("r_regionkey", "r_name")),
      "nation" -> (() => rows(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          (id % 5).cast("int").as("n_regionkey"))),
      "customer" -> (() => rows(n.customers).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          (u(seed, 1, id) * 25).cast("int").as("c_nationkey"),
          round(lit(-999.99) + u(seed, 2, id) * 10999.79, 2).as("c_acctbal"),
          pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"), id).as("c_mktsegment"))),
      "supplier" -> (() => rows(n.suppliers).select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          (u(seed, 4, id) * 25).cast("int").as("s_nationkey"),
          round(lit(-999.99) + u(seed, 5, id) * 10999.79, 2).as("s_acctbal"))),
      "part" -> (() => rows(n.parts).select(id.as("p_partkey"),
          concat_ws(" ",
            pick(seed, 6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red"), id),
            pick(seed, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"), id))
            .as("p_name"),
          concat(lit("Brand#"), ((u(seed, 8, id) * 25).cast("int") + 1).cast("string")).as("p_brand"),
          pick(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
            .as("p_type"),
          ((u(seed, 10, id) * 50).cast("int") + 1).as("p_size"),
          (lit(900.0) + (id % 1000).cast("double") / 10).as("p_retailprice"))),
      "orders" -> (() => rows(n.orders).select(id.as("o_orderkey"),
          (u(seed, 11, id) * n.customers).cast("long").as("o_custkey"),
          pick(seed, 12, Seq("F", "O", "P"), id).as("o_orderstatus"),
          round(lit(1000.0) + u(seed, 13, id) * 499000.0, 2).as("o_totalprice"),
          ntz(u(seed, 14, id) * 2404, "1995-01-01").as("o_orderdate"),
          pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
            .as("o_orderpriority"))),
      "lineitem" -> (() => rows(n.lineitems).select(
          (u(seed, 16, id) * n.orders).cast("long").as("l_orderkey"),
          (u(seed, 17, id) * n.parts).cast("long").as("l_partkey"),
          (u(seed, 18, id) * n.suppliers).cast("long").as("l_suppkey"),
          ((u(seed, 19, id) * 7).cast("int") + 1).as("l_linenumber"),
          ((u(seed, 20, id) * 50).cast("int") + 1).cast("double").as("l_quantity"),
          round(lit(900.0) + u(seed, 21, id) * 104100.0, 2).as("l_extendedprice"),
          ((u(seed, 22, id) * 11).cast("int").cast("double") / 100).as("l_discount"),
          ((u(seed, 23, id) * 9).cast("int").cast("double") / 100).as("l_tax"),
          pick(seed, 24, Seq("A", "N", "R"), id).as("l_returnflag"),
          pick(seed, 25, Seq("F", "O"), id).as("l_linestatus"),
          ntz(u(seed, 26, id) * 2498, "1995-01-02").as("l_shipdate"))),
      "events" -> (() => {
        // ts ascends with event_id across 2024-01-01 .. 2024-01-30
        val spanUs = 30L * 24 * 3600 * 1000000L
        rows(n.events).select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) +
            ((id.cast("double") + u(seed, 27, id)) * (spanUs.toDouble / n.events)).cast("long"))
            .cast("timestamp_ntz").as("ts"),
          (u(seed, 28, id) * n.users).cast("long").as("user_id"),
          pick(seed, 29, Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
          round(-log(lit(1.0) - u(seed, 30, id)) * 50, 2).as("value"),
          concat(lit("{\"k\": "), (u(seed, 31, id) * 100).cast("int").cast("string"), lit("}"))
            .as("props"))
      }),
      "documents" -> (() => {
        val vocab = array(Vocab.map(lit): _*)
        val nWords = (u(seed, 33, id) * 91).cast("int") + 10
        val words = transform(sequence(lit(1), nWords), i =>
          element_at(vocab, (u(seed, 32, id, i) * Vocab.size).cast("int") + 1))
        val base = rows(n.docs).select(id.as("doc_id"), array_join(words, " ").as("text"))
        // one doc in twenty is an earlier doc plus a trailing " dup" token:
        // the near-duplicate mass the dedup operators exist to find
        val dupOf = when(u(seed, 34, id) < 0.05 && id > 0,
          (id - lit(1) - (u(seed, 35, id) * least(id, lit(50L))).cast("long")))
        val docs = rows(n.docs).select(id.as("doc_id"), dupOf.as("src_id"))
          .join(base, "doc_id")
          .join(base.select(col("doc_id").as("src_id"), col("text").as("src_text")),
            Seq("src_id"), "left")
          .select(col("doc_id"),
            coalesce(concat(col("src_text"), lit(" dup")), col("text")).as("text"))
        docs.select(col("doc_id"), col("text"),
            when(u(seed, 36, col("doc_id")) < 0.41, lit("en"))
              .otherwise(pick(seed, 37, Seq("de", "es", "fr", "zh"), col("doc_id"))).as("lang"),
            concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
            length(col("text")).cast("long").as("n_chars"))
          .repartition(1).sortWithinPartitions("doc_id")
      }),
      "embeddings" -> (() => {
        // 64 Box-Muller normals, L2-normalised
        val v = transform(sequence(lit(0), lit(63)), j =>
          sqrt(lit(-2.0) * log(lit(1.0) - u(seed, 38, id, j))) *
            cos(lit(2 * math.Pi) * u(seed, 39, id, j)))
        val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
        rows(n.embeddings).select(id.as("vec_id"),
          transform(v, x => (x / norm).cast("float")).as("embedding"),
          (u(seed, 40, id) * 10).cast("int").as("label"))
      }),
      "raw_log" -> (() => {
        // FIXTURES.md §B1: two ETL batches (only the newest survives the
        // explode stage), four tenants, product and pageview events whose
        // JSON payload carries session, sku and action
        val session = (id / 6).cast("long")
        val tsMs = lit(1704067200000L) +
          (u(seed, 41, session) * 29 * 86400000L).cast("long") + id % 6 * 60000L
        val action = element_at(array(Seq("\"detail\"", "\"add\"", "\"purchase\"",
          "\"remove\"", "null").map(lit): _*), (u(seed, 42, id) * 5).cast("int") + 1)
        val old = u(seed, 43, id) < 0.1
        rows(n.rawRows).select(
          when(old, lit(1000L)).otherwise(lit(2000L)).as("etl_timestamp"),
          when(old, lit("etl-old")).otherwise(lit("etl-new")).as("etl_id"),
          when(u(seed, 44, id) < 0.85, lit("event_product")).otherwise(lit("pageview"))
            .as("event_type"),
          concat(lit("k"), (pmod(xxhash64(lit(seed), session), lit(4L)) + 1).cast("string"))
            .as("api_key"),
          to_date(timestamp_millis(tsMs)).as("event_date"),
          format_string("{\"event_type\":\"event_product\",\"hashed_url\":\"u%d\"," +
            "\"product_action\":%s,\"product_sku\":\"Sku %d\"," +
            "\"server_timestamp_epoch_ms\":%d,\"session_id\":\"s%d\"}",
            id, action, (u(seed, 45, id) * 200).cast("int"), tsMs, session).as("raw_data"))
      }))
  }

  /** Sum of the file sizes under `dir`'s tables named in `tables`. */
  def bytesOf(dir: String, tables: Iterable[String]): Long =
    tables.iterator.map(t => Files.treeBytes(new java.io.File(s"$dir/$t.parquet"))).sum
}
