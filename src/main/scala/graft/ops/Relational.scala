package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators (SURVEY.md §2.1–§2.7, #1–#22).
  *
  * Engine stance: every operator is a declarative DataFrame transform;
  * Catalyst supplies pushdown/pruning/join-strategy/AQE. Per-operator
  * scale notes are inline. Money arithmetic that must hash-match the
  * DuckDB oracle uses the scaled-integer pattern: `round(x*100)` cast
  * to long, summed exactly — no float-associativity hazards.
  */
object Relational {

  /** Exact cents: round(x*100) as long. Positive values only — Spark
    * HALF_UP == DuckDB round-half-away for positives, so both engines
    * agree on ties; the sum is then exact integer arithmetic.
    */
  def cents(c: Column): Column = round(c * lit(100)).cast("long")

  // -- §2.1 scans / sources / sinks ---------------------------------

  /** #1 Full scan with column projection; pruned at the parquet reader
    * (check `.explain`: ReadSchema carries only these 4 columns).
    * Ref: shopping_events_exploded.sql:25-26 (projection over scan).
    */
  def q01ScanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  /** #2 Bulk CSV load round-trip (COPY INTO shape,
    * upload/upload_to_snowflake.py:89-114): write events (incl. the
    * quoted JSON payload column) to CSV with header, read back with an
    * explicit schema (schema-on-read, never inferSchema at scale).
    * ORACLED since round 8: the read-back must equal the source table
    * row-for-row (longs/strings are textual round-trips; doubles
    * round-trip via shortest-uniquely-parsing decimal), so the
    * driver's gate proves the CSV write+read loses nothing.
    */
  def q02BulkLoadCsv(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    // NULL and empty-string must stay distinct through the text
    // round-trip BY CONSTRUCTION, not by fixture luck: pin an explicit
    // null sentinel (the \N convention) and an explicit empty-string
    // representation on BOTH sides. Writer/reader defaults conflate
    // the two (both serialize to an empty field), which happens to
    // pass on a fixture with no null/empty strings and silently turns
    // lossy the day one appears. Residual (inherent to sentinel-based
    // CSV, univocity applies nullValue after unquoting): a DATA value
    // that is literally the two characters \N reads back as NULL —
    // lossless-for-arbitrary-strings needs an escaping text format
    // (the q51 JSON round-trip), not CSV.
    Scratch.run(spark, "csv", dir) { out =>
      src.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("nullValue", "\\N").option("emptyValue", "")
        .csv(out)
      spark.read
        .schema("event_id LONG, ts_ms LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .option("header", "true").option("quote", "\"")
        .option("nullValue", "\\N").option("emptyValue", "")
        .csv(out)
        .orderBy("event_id")
    }
  }

  /** #3 Partitioned parquet sink. Layout is chosen for partition
    * pruning on the append-only log's natural predicate (event_date) —
    * at 100 TB a date filter then touches only matching directories.
    * ORACLED since round 8: read-back per-date counts must equal the
    * source's — the gate proves the partitioned write+pinned-schema
    * read loses no rows (the q109 sink-gate argument).
    */
  def q03SinkParquetPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
    Scratch.run(spark, "pq", dir) { out =>
      staged
        // Co-locate each date before the write: one file per partition
        // dir instead of (#tasks x #dates) small files. At 100 TB use
        // repartition(n, col) to bound per-date file size instead.
        .repartition(col("event_date"))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      // explicit schema on the read-back: an EMPTY source day writes no
      // files at all, and schema inference on a file-less directory
      // fails — the sink op must round-trip the empty partition too
      spark.read.schema(staged.schema).parquet(out)
        .groupBy("event_date").agg(count(lit(1)).as("n"))
        .orderBy("event_date")
    }
  }

  /** #127 In-place compaction round-trip — [[graft.ops.Sinks.compact]]
    * (the count-validated park-rename small-file rewrite) under the
    * hash gate: the q126 sink rule applied to the last in-place
    * REWRITE path. Sink the events table partitioned by date with a
    * DELIBERATE small-file fan-out (8 hash buckets per date — the
    * #tasks×#dates explosion the operator exists to cure at 100 TB),
    * compact to a count-derived file budget, then emit per-date
    * integer aggregates (count + id sums) FROM THE COMPACTED FILES.
    * Compaction is row identity, so the oracle recomputes the same
    * aggregates from the raw events relation — a rewrite that loses,
    * duplicates or misroutes any row moves a count or an id-sum. The
    * file-count collapse itself is filesystem metadata (SinksSpec's
    * assertion); what the gate adds every round is the BYTES: the
    * swap-installed rewrite serves exactly the original rows. The
    * sink is a [[Scratch]] dir.
    */
  def q127CompactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
    Scratch.run(spark, "q127", dir) { out =>
      staged.repartition(8, col("event_id"))
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      // an all-empty source writes a file-less directory — nothing to
      // compact, and the rewrite's schema inference would fail where
      // zero rows is the correct answer (the q126 read-back rule)
      if (staged.limit(1).count() > 0)
        Sinks.compact(spark, out, "event_date")
      spark.read.schema(staged.schema).parquet(out)
        .groupBy("event_date")
        .agg(count(lit(1)).as("n"),
          sum("event_id").as("sum_event_id"),
          sum("user_id").as("sum_user_id"))
        .orderBy("event_date")
    }
  }

  /** #128 Versioned-table lifecycle round-trip — the manifest-flip
    * family ([[graft.ops.Sinks.commitVersion]] /
    * [[graft.ops.Sinks.compactVersioned]] /
    * [[graft.ops.Sinks.pruneVersions]], the object-store-safe sink
    * whose readers never observe a rename gap) under the hash gate,
    * completing the q127 program: every write/rewrite path the engine
    * ships is now oracled. The declared run is one full lifecycle on
    * a 12.5% slice of events: commit v1 = HALF the slice (a superseded
    * state the gate must prove invisible), commit v2 = the full
    * slice, `compactVersioned` into v3 (count-validated rewrite into
    * a NEW version + manifest flip — the multi-file merge itself is
    * q127's gate; this one gates the versioned rewrite and the
    * pointer), `pruneVersions`
    * (retire v1/v2; the live version must survive intact), then
    * per-date integer aggregates read through the MANIFEST-resolved
    * live directory. The oracle recomputes them from the raw slice:
    * a flip that points at a stale/partial version halves a count; a
    * prune that bites the live version empties one; a compaction that
    * loses a row moves an id-sum. The table root is a [[Scratch]] dir.
    *
    * Round-17 leg — PINNED-VERSION READ (time travel): after the v3
    * flip but before the prune, v1 (the superseded HALF state) is
    * read back via [[graft.ops.Sinks.readVersionedAt]] and its
    * per-date (n_v1, sum_event_id_v1) join the declared output. v1's
    * content DIFFERS from live (half vs full slice), so the oracle
    * distinguishes a true pinned read from pointer-following: a
    * readVersionedAt that resolved the manifest would double n_v1.
    * The v1 aggregate is materialized before [[Sinks.pruneVersions]]
    * retires the directory — exactly the consumer contract the API
    * declares (pin within the retention window).
    */
  def q128VersionedLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(8)) === 0)
      .withColumn("event_date", to_date(col("ts")))
    // an all-empty slice has no version to commit (a file-less
    // version dir cannot even be count-validated) and zero aggregate
    // rows is the correct declared answer — the q127 empty rule
    def v1Shape(df: DataFrame): DataFrame = df.groupBy("event_date")
      .agg(count(lit(1)).as("n_v1"), sum("event_id").as("sum_event_id_v1"))
    if (staged.limit(1).count() == 0)
      return staged.groupBy("event_date")
        .agg(count(lit(1)).as("n"),
          sum("event_id").as("sum_event_id"),
          sum("user_id").as("sum_user_id"))
        .withColumn("n_v1", lit(0L))
        .withColumn("sum_event_id_v1", lit(-1L))
        .orderBy("event_date")
    Scratch.run(spark, "q128", dir) { root =>
      // v1: a superseded half-state (skipped if the half happens to
      // be empty — a file-less version cannot be count-validated)
      val half = staged.filter(pmod(col("event_id"), lit(2)) === 0)
      val v1Num =
        if (half.limit(1).count() > 0)
          Some(graft.ops.Sinks.commitVersion(spark, root, half,
            partCol = Some("event_date")))
        else None
      // no pre-fanout here: commitVersion repartitions by partCol
      // itself (one file per date) — the multi-file-merge case is
      // q127's gate; what THIS lifecycle's compactVersioned step
      // gates is the rewrite-into-a-new-version + manifest flip
      graft.ops.Sinks.commitVersion(spark, root, staged,
        partCol = Some("event_date"))
      graft.ops.Sinks.compactVersioned(spark, root, "event_date")
      // pinned read of the SUPERSEDED v1 after the flip moved live to
      // v3 (see the scaladoc leg); materialized (localCheckpoint,
      // ≤ #dates rows) BEFORE the prune retires its directory
      val v1Agg = (v1Num match {
        case Some(v) =>
          v1Shape(graft.ops.Sinks.readVersionedAt(spark, root, v))
        case None => v1Shape(half) // empty, schema-stable
      }).localCheckpoint()
      graft.ops.Sinks.pruneVersions(spark, root)
      val live = graft.ops.Sinks.liveVersion(spark, root).getOrElse(
        throw new java.io.FileNotFoundException(s"no MANIFEST under $root"))
      spark.read.schema(staged.schema)
        .parquet(graft.ops.Sinks.versionDir(root, live))
        .groupBy("event_date")
        .agg(count(lit(1)).as("n"),
          sum("event_id").as("sum_event_id"),
          sum("user_id").as("sum_user_id"))
        .join(v1Agg, Seq("event_date"), "left")
        .select(col("event_date"), col("n"), col("sum_event_id"),
          col("sum_user_id"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("sum_event_id_v1"), lit(-1L)).as("sum_event_id_v1"))
        .orderBy("event_date")
    }
  }

  /** #136 Additive SCHEMA EVOLUTION on the versioned table — the
    * q128 lifecycle extended by the first thing a real deployment
    * hits after a quarter of operation: a new column arrives
    * mid-history. The declared run commits v1 = the even-event_id
    * half of a 12.5% events slice under the BASE schema (event_date,
    * event_id, user_id), then evolves with the odd half carrying a
    * NEW `value_micro` column ([[graft.ops.Sinks.commitVersionEvolved]]
    * — additive-only check, live rows NULL-filled for the new column,
    * count-validated commit + manifest flip), and reads per-date
    * aggregates back through the MANIFEST-resolved live directory.
    * The oracle recomputes them from the raw slice with the same
    * parity split: a NULL-fill that hits the wrong rows moves
    * n_valued; a lost pre-evolution row moves n; a miscast moves
    * sum_value_micro (micro-scaled long — the money-sum rule).
    * The table root is a [[Scratch]] dir.
    */
  def q136SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(8)) === 1)
      .withColumn("event_date", to_date(col("ts")))
    val base = staged.filter(pmod(col("event_id"), lit(2)) === 0)
      .select("event_date", "event_id", "user_id")
    val evolved = staged.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("event_date"), col("event_id"), col("user_id"),
        round(col("value") * lit(1000000.0)).cast("long").as("value_micro"))
    def shape(df: DataFrame): DataFrame = df
      .groupBy("event_date")
      .agg(count(lit(1)).as("n"),
        sum("event_id").as("sum_event_id"),
        count("value_micro").as("n_valued"),
        coalesce(sum("value_micro"), lit(-1L)).as("sum_value_micro"))
      .orderBy("event_date")
    // the q128 empty-slice rule: nothing to commit, zero rows is the
    // declared answer
    if (staged.limit(1).count() == 0)
      return shape(base.withColumn("value_micro", lit(null).cast("long")))
    Scratch.run(spark, "q136", dir) { root =>
      // v1 under the BASE schema (skipped when the half is empty — a
      // file-less version cannot be count-validated; the evolved
      // commit then initializes the table, which is the same public
      // surface one branch earlier)
      if (base.limit(1).count() > 0)
        graft.ops.Sinks.commitVersion(spark, root, base,
          partCol = Some("event_date"))
      graft.ops.Sinks.commitVersionEvolved(spark, root, evolved,
        partCol = Some("event_date"))
      val live = graft.ops.Sinks.liveVersion(spark, root).getOrElse(
        throw new java.io.FileNotFoundException(s"no MANIFEST under $root"))
      shape(spark.read.schema(evolved.schema)
        .parquet(graft.ops.Sinks.versionDir(root, live)))
    }
  }

  /** Multi-format source round-trip (source breadth beyond the
    * reference's CSV/warehouse: JSON-lines and ORC through the same
    * DataFrameReader surface). Smoke-only sink+source op: writes the
    * events slice in both formats, reads both back with explicit
    * schemas, returns their join (row counts must agree).
    */
  def q51SourcesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.events(spark, dir)
      .select("event_id", "ts_ms", "user_id", "event_type", "value")
    val schema = "event_id LONG, ts_ms LONG, user_id LONG, event_type STRING, value DOUBLE"
    Scratch.run(spark, "src", dir) { base =>
      src.write.mode("overwrite").json(s"$base/json")
      src.write.mode("overwrite").orc(s"$base/orc")
      val j = spark.read.schema(schema).json(s"$base/json")
        .groupBy("event_type").agg(count(lit(1)).as("n_json"))
      val o = spark.read.schema(schema).orc(s"$base/orc")
        .groupBy("event_type").agg(count(lit(1)).as("n_orc"))
      j.join(o, "event_type").orderBy("event_type")
    }
  }

  // -- §2.2 projections / filters -----------------------------------

  /** #4 Conjunctive equality + IN-list predicate
    * (nep_session_events.sql:14-16). Both conjuncts push down to the
    * parquet scan (PushedFilters: EqualTo, In).
    */
  def q04FilterEqIn(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "o_custkey", "o_orderpriority")
      .orderBy("o_orderkey")

  /** #5 Parameterized filter: key equality + half-open date range +
    * array-length predicate + ordered output (my_dbt_flow.py:234-252).
    * Parameters arrive as literals → constant-folded into pushed
    * filters; the split/size predicate runs post-scan in codegen.
    */
  def q05FilterRangeParam(spark: SparkSession, dir: String,
      status: String = "O",
      start: String = "1996-01-01 00:00:00",
      end: String = "1999-01-01 00:00:00"): DataFrame =
    // LocalDateTime literals are TIMESTAMP_NTZ like o_orderdate —
    // tz-free on both sides (java.sql.Timestamp.valueOf parses in the
    // JVM default timezone, which would shift the range boundary on
    // any non-UTC JVM and silently break oracle parity)
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === lit(status) &&
        col("o_orderdate") > lit(java.time.LocalDateTime.parse(start.replace(' ', 'T'))) &&
        col("o_orderdate") <= lit(java.time.LocalDateTime.parse(end.replace(' ', 'T'))) &&
        size(split(col("o_orderpriority"), "-")) === 2)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .orderBy("o_orderdate", "o_orderkey")

  /** #6 Projection with computed, aliased columns per column
    * (shopping_events_exploded.sql:14-24 shape).
    */
  def q06ProjectComputeAlias(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_cents"),
      year(col("l_shipdate")).as("ship_year"),
      concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status"))
      .orderBy("l_orderkey", "l_linenumber")

  // -- §2.3 joins ---------------------------------------------------

  /** #7 Inner equi-join against a 1-row derived table — "rows of the
    * newest batch" (latest_etl CTE, shopping_events_exploded.sql:7-13).
    * The 1-row side is broadcast ⇒ no shuffle of the big side; the
    * top-1 itself is TakeOrderedAndProject, not a full sort.
    */
  def q07JoinBroadcastTop1(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
    val latest = ev.select(col("event_date").as("max_date"))
      .orderBy(desc("max_date")).limit(1)
    ev.join(broadcast(latest), col("event_date") === col("max_date"))
      .select("event_id", "user_id", "event_type", "event_date")
      .orderBy("event_id")
  }

  /** #8 Multiway fact⋈dim join chain (the shape Snowflake ran for
    * every dbt ref(), nep_session_events.sql:13). lineitem⋈orders is
    * the big shuffle pair (AQE may broadcast at small SF; at scale it
    * is a shuffled join on the order key); customer and nation are
    * explicitly broadcast — they stay small relative to the fact side.
    */
  def q08JoinShuffleMultiway(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** #9 Left-semi ("has a match") / left-anti ("orphans") — the
    * relational form of dbt relationship tests (schema.yml:9-13).
    * Semi/anti never materialize right-side columns ⇒ cheapest join
    * shapes; Catalyst plans them as broadcast/shuffled hash joins.
    */
  def q09JoinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cond = col("c_custkey") === col("o_custkey")
    val has = cust.join(ord, cond, "left_semi")
      .select(col("c_custkey")).withColumn("tag", lit("has_orders"))
    val none = cust.join(ord, cond, "left_anti")
      .select(col("c_custkey")).withColumn("tag", lit("no_orders"))
    has.unionByName(none).orderBy("tag", "c_custkey")
  }

  /** #10 As-of join: each purchase matched to the latest earlier-or-
    * same-ms view of the same user. Implemented as union + running
    * `last(ignoreNulls)` over event time — one shuffle on user_id, no
    * BroadcastNestedLoopJoin risk (the naive range-join fallback).
    * Views are first deduped per (user, ms) to make "latest" unique.
    */
  def q10JoinAsofRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts_ms").as("tms"), col("event_id"), col("event_type"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "tms").agg(max("event_id").as("v_id"))
      .withColumn("p_id", lit(null).cast("long")).withColumn("is_p", lit(0))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tms"), col("event_id").as("p_id"))
      .withColumn("v_id", lit(null).cast("long")).withColumn("is_p", lit(1))
    val w = Window.partitionBy("user_id").orderBy("tms", "is_p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases.select(views.columns.map(col).toIndexedSeq: _*))
      .withColumn("prior_view_id", last(col("v_id"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("user_id"), col("p_id").as("purchase_id"),
        coalesce(col("prior_view_id"), lit(-1L)).as("prior_view_id"))
      .orderBy("user_id", "purchase_id")
  }

  /** Bucketed co-located join: lineitem persisted bucketed+sorted on
    * the join key, so the repeated fact⋈orders join reads
    * pre-partitioned data — the bucketed side needs NO exchange and
    * NO sort at join time (PlanSpec asserts the missing Exchange).
    * This is the batch answer to "the same big join runs every day at
    * 100 TB": pay the shuffle once at layout time, never per query.
    * Smoke-only (layout demo; results equal q08's un-bucketed join).
    */
  def q52BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // dir-keyed name: a shared session running multiple scale factors
    // must never silently reuse another dir's bucketed layout.
    // Lowercased explicitly: SessionCatalog lowercases managed-table
    // names for the warehouse location, so a mixed-case dir would
    // make the stale-location probe below look at a path saveAsTable
    // never writes
    val tbl = s"graft_lineitem_bucketed_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      .toLowerCase(java.util.Locale.ROOT)
    if (!spark.catalog.tableExists(tbl)) {
      // the in-memory catalog forgets tables across sessions but the
      // warehouse directory persists — clear a stale location first,
      // through the warehouse's own FileSystem so a remote warehouse
      // (object store) is handled the same as file:
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh.stripSuffix("/") + "/" + tbl)
      val fs = Sinks.fsFor(spark, wh)
      if (fs.exists(loc)) fs.delete(loc, true)
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tbl)
    }
    val li = spark.table(tbl)
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    // merge hint pins sort-merge so the bucketed layout (not a
    // broadcast) is what eliminates the fact-side exchange+sort
    li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  // -- §2.4 aggregations --------------------------------------------

  /** #11 Multi-key hash GROUP BY (TPC-H Q1 shape;
    * nep_session_events.sql:17-18). Partial (map-side) + final
    * HashAggregate — the shuffle moves pre-aggregated rows only.
    * Sums use exact scaled-integer arithmetic (order-independent).
    */
  def q11AggHashGroupby(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty_cents").cast("double") / lit(100.0) / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** #12 Ordered ARRAY_AGG — the reference's core sessionize collect
    * (ARRAY_AGG ... WITHIN GROUP (ORDER BY ts), nep_session_events
    * .sql:7-19). `collect_list` order is undefined post-shuffle, so we
    * ALWAYS sort-then-project: array_sort(collect_list(struct(ts,id)))
    * with the id as tie-break, then transform away the sort key.
    */
  def q12AggOrderedCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .groupBy("user_id", "event_date")
      .agg(
        concat_ws("|", transform(
          Scalars.orderedCollect(col("ts"), col("event_id"), "event_id"),
          v => v.cast("string"))).as("interactions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "event_date")

  /** #13 Exact duplicate detection (dbt `unique` test, schema.yml:9-13
    * re-expressed relationally): keys occurring more than once.
    */
  def q13AggDistinctDupes(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy("l_orderkey")

  /** #14 Approximate distinct (HLL++) — the 100 TB form of #13: exact
    * distinct on a high-cardinality id shuffles every distinct value;
    * HLL ships fixed-size sketches. No oracle (approximate);
    * ScalaTest asserts ±5% vs exact.
    */
  def q14AggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
      approx_count_distinct(col("l_suppkey"), 0.01).as("approx_supps"))

  /** #15 ROLLUP subtotals (warehouse parity). Keys are coalesced to
    * 'ALL' so NULL-ordering differences between engines can't bite.
    */
  def q15RollupGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty_cents"), col("n"))
      .orderBy("rf", "ls")

  /** Pivot (warehouse parity): long→wide conditional aggregation —
    * order counts per priority, one column per order status. The
    * status values are passed EXPLICITLY: the values-less overload
    * first runs a distinct job to discover them, an extra full pass
    * (and a nondeterministic column order) you never want at 100 TB.
    * Missing combinations aggregate to NULL → coalesced to 0 so the
    * declared output is NULL-free.
    */
  def q58Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** CDC merge (warehouse MERGE INTO, batch form): apply a keyed
    * change batch to a base snapshot — last change per key wins,
    * changes outrank the snapshot, a winning 'delete' removes the key,
    * untouched base rows survive. One shuffle on the key; the window
    * is partitioned by key so no single-task sort exists at any scale.
    * This is the missing half of the reference's append-only-log
    * story: the log is what arrives (upload_to_snowflake.py append
    * pattern), mergeUpsert is how a current-state table is derived
    * from it incrementally.
    *
    * @param ordCols within-source recency order (later wins); must be
    *                unique per key within each source for determinism
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      ordCols: Seq[String], opCol: String = "op"): DataFrame = {
    val dataCols = base.columns.toSeq
    val b = base.withColumn("__src", lit(0)).withColumn("__op", lit("upsert"))
    val c = changes.withColumnRenamed(opCol, "__op").withColumn("__src", lit(1))
      .select((dataCols ++ Seq("__src", "__op")).map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((desc("__src") +: ordCols.map(desc)): _*)
    b.unionByName(c)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "upsert")
      .select(dataCols.map(col): _*)
  }

  /** Declared q59: mergeUpsert driven from the event log — base
    * snapshot = latest even-id event per user, change batch = odd-id
    * events ('click' rows act as deletes). Deterministic (ts_ms,
    * event_id is unique per row) and fully SQL-expressible, so the
    * driver hash-verifies the merge semantics end to end.
    */
  def q59MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "ts_ms", "event_type")
    val wLatest = Window.partitionBy("user_id").orderBy(desc("ts_ms"), desc("event_id"))
    val base = ev.filter(col("event_id") % 2 === 0)
      .withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn", "event_type")
    val changes = ev.filter(col("event_id") % 2 === 1)
      .withColumn("op", when(col("event_type") === "click", "delete").otherwise("upsert"))
      .drop("event_type")
    mergeUpsert(base, changes, Seq("user_id"), Seq("ts_ms", "event_id"))
      .orderBy("user_id")
  }

  /** Deterministic stratified Bernoulli sample — hash-gate sampling,
    * not `df.sample`: `sample`/`rand` draw from seeded RNG state whose
    * row-to-draw alignment shifts with partitioning and retries, so a
    * resampled pipeline stage silently changes its training set. The
    * gate here is a pure function of the ROW KEY (first hex byte of
    * md5(key) compared against the stratum's rate threshold), which
    * makes the sample reproducible across runs, partitionings, task
    * retries, AND engines — the oracle applies the identical gate.
    * Rates per stratum: 'P' orders 50% (0x80/0x100), others 25%
    * (0x40/0x100). Pure map-side filter: no shuffle, no RNG, scan
    * parallelism untouched at any SF.
    */
  def q63DeterministicSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("gate", substring(md5(col("o_orderkey").cast("string")), 1, 2))
      .filter(col("gate") <
        when(col("o_orderstatus") === "P", lit("80")).otherwise(lit("40")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("gate"))
      .orderBy("o_orderkey")

  // -- §2.5 window functions ----------------------------------------

  /** #16 first_value over (partition, order) — stamp each event with
    * its partition's first value (shopping_events_exploded.sql:18).
    */
  def q16WindowFirstValue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("first_event_id", first("event_id").over(w))
      .select("event_id", "user_id", "first_event_id")
      .orderBy("event_id")
  }

  /** #17 Ranking + top-k per partition (per-session argsort top-k,
    * lstm_model.py:38-40). row_number with a full tie-break keeps the
    * result deterministic.
    */
  def q17WindowRankTopk(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** #18 Running frame aggregate (cumulative spend per user over the
    * event log). Scaled-integer running sum ⇒ exact, order-fixed.
    */
  def q18WindowRunningFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("run_cents", sum(cents(col("value"))).over(w))
      .select("event_id", "user_id", "run_cents")
      .orderBy("event_id")
  }

  /** #19 lag/lead inter-event gap — the primitive under gap-based
    * sessionization (#34 / flagship).
    */
  def q19WindowLagGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("gap_ms",
        coalesce(col("ts_ms") - lag("ts_ms", 1).over(w), lit(-1L)))
      .select("event_id", "user_id", "gap_ms")
      .orderBy("event_id")
  }

  // -- §2.6 sorts / limits ------------------------------------------

  /** #20 Global ORDER BY DESC + LIMIT 1 (latest ETL id,
    * shopping_events_exploded.sql:7-13). Plans as
    * TakeOrderedAndProject: per-partition top-1 then merge — no full
    * sort, no single-node shuffle.
    */
  def q20OrderbyDescLimit1(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      .limit(1)
      .select("o_orderkey", "o_orderdate")

  /** #21 Total order on multiple keys ("sessions are ordered!",
    * shopping_events_exploded.sql:29). Range-partitioned SortExec —
    * scales by sampling range bounds, not by a single reducer.
    */
  def q21GlobalMultisort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber")

  // -- §2.7 set operations ------------------------------------------

  /** #22 INTERSECT / EXCEPT / UNION ALL (new-vs-previous batch diff on
    * the append-only log). Distinct-set semantics like the SQL ops.
    */
  def q22UnionExceptIntersect(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val open = ord.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
    val closed = ord.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
    val both = open.intersect(closed).withColumn("tag", lit("both"))
    val onlyOpen = open.except(closed).withColumn("tag", lit("only_open"))
    val onlyClosed = closed.except(open).withColumn("tag", lit("only_closed"))
    both.unionByName(onlyOpen).unionByName(onlyClosed)
      .orderBy("tag", "o_custkey")
  }
}
