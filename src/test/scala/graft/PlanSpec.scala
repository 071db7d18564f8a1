package graft

import graft.ops.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the scale properties PLANS.md documents
  * must survive refactors — filters reach the parquet scan, scans are
  * column-pruned, the latest-batch join broadcasts, top-1 never plans
  * a global sort, and nothing silently degrades to a cartesian
  * product on the declared relational paths.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sfTiny

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q04: equality + IN predicates are pushed to the parquet scan") {
    val p = plan(Relational.q04FilterEqIn(spark, sf))
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(p.contains("In(o_orderpriority"), p)
  }

  test("q01: scan reads only the projected columns") {
    val p = plan(Relational.q01ScanProject(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"))
  }

  test("q07: latest-batch join is broadcast with TakeOrderedAndProject top-1") {
    val p = plan(Relational.q07JoinBroadcastTop1(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20: top-1 plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q20OrderbyDescLimit1(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q08: dims broadcast; no cartesian product") {
    val p = plan(Relational.q08JoinShuffleMultiway(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52: bucketed side joins with no exchange on the bucket key") {
    val df = Relational.q52BucketedJoin(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
    // orders shuffles to meet the buckets; the bucketed lineitem side
    // must NOT re-partition on its own key
    assert(!p.contains("hashpartitioning(l_orderkey"), p)
    assert(p.contains("hashpartitioning(o_orderkey"), p)
    // and results equal the same join computed from raw parquet
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    assert(df.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0) === raw)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // one key carries ~90% of the rows; with the skew thresholds
    // lowered to toy scale, AQE must mark and split that partition in
    // the FINAL adaptive plan — the runtime half of the skew story
    // (the static half, salting, is q57/q76)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(Option(conf.get(k))).toOption.flatten).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ/SHJ
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(200000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("payload_"), col("id")).as(("v")))
      val small = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(small, "k")
      // drive THIS queryExecution (count() would build a separate
      // plan and leave this one unexecuted => isFinalPlan=false)
      val qe = joined.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"no skew-split in final adaptive plan:\n${finalPlan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("q09: semi/anti joins stay hash-based") {
    val p = plan(Relational.q09JoinSemiAnti(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q29: no unpartitioned Window anywhere in the split plan") {
    // The two-phase split must never regress to a global
    // single-partition percent_rank window.
    val df = graft.ops.Features.q29TimeSplit(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in q29 plan:\n$bad")
  }

  test("q30: no unpartitioned Window anywhere in the vocab plan") {
    val df = graft.ops.Features.q30VocabIndex(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in q30 plan:\n$bad")
  }

  test("q123: the SQL view stack inlines to ONE session_id-keyed exchange, no window") {
    // Catalyst must expand the temp views exactly like dbt view
    // expansion: the whole flatten→sessionize chain is one hash
    // aggregation keyed by the session — no view materialization
    // boundary, no extra shuffle, no window operator at all
    val p = plan(graft.Pipeline.q123SqlSessionEvents(spark, sf))
    val sessionExchanges = "hashpartitioning\\(session_id".r.findAllIn(p).size
    assert(sessionExchanges >= 1,
      s"expected a session_id hash exchange:\n$p")
    assert(!p.contains("Window"), s"unexpected Window in the view-stack plan:\n$p")
    // the events scan survives view inlining as a plain parquet scan
    assert(p.contains("Scan parquet"), s"no parquet scan in plan:\n$p")
  }

  test("q124: both vocab hops are broadcast joins; no unpartitioned Window") {
    val df = graft.ops.Features.q124VocabDecode(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in q124 plan:\n$bad")
    val p = plan(df)
    // encode hop (token → id) and decode hop (id → token) both ride
    // the bounded broadcast vocab — the corpus side never shuffles
    // for them
    val bcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bcasts >= 2, s"expected 2 broadcast vocab joins, got $bcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab join regressed to SMJ:\n$p")
  }

  test("vocab broadcast is size-gated: shuffle join above the counted bound, broadcast below") {
    // distinct-token count is data-bound on an LLM corpus, so the
    // vocab joins in q30/q74/q124/Pipeline.encode hint broadcast only
    // under graft.vocab.broadcastMaxRows; above it the hint is
    // withheld and (with Catalyst's own sizing neutralized here) the
    // plan shuffles both sides instead of building an unbounded
    // broadcast relation.
    val conf = spark.conf
    val saved = Seq("graft.vocab.broadcastMaxRows",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(Option(conf.get(k))).toOption.flatten).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // NOTE: the vocab FIT legitimately broadcasts its bounded
      // per-bucket offsets relation (gr_pid join inside
      // globalRowNumber) regardless of the gate, so the assertions
      // count joins rather than demanding zero broadcasts.
      def bcasts(p: String) = "BroadcastHashJoin".r.findAllIn(p).size
      def shuffles(p: String) = "SortMergeJoin".r.findAllIn(p).size +
        "ShuffledHashJoin".r.findAllIn(p).size
      conf.set("graft.vocab.broadcastMaxRows", "1") // every vocab is "too big"
      val above = plan(graft.ops.Features.q124VocabDecode(spark, sf))
      assert(shuffles(above) >= 2,
        s"both vocab hops should shuffle above the bound:\n$above")
      conf.set("graft.vocab.broadcastMaxRows", (16L << 20).toString)
      val below = plan(graft.ops.Features.q124VocabDecode(spark, sf))
      // the hint (not Catalyst's sizing, disabled above) forces the
      // two vocab-hop broadcasts back under the bound
      assert(bcasts(below) >= bcasts(above) + 2,
        s"vocab under the bound lost its broadcast hint: " +
          s"${bcasts(below)} vs ${bcasts(above)} above:\n$below")
      assert(shuffles(below) === 0,
        s"vocab hop still shuffles under the bound:\n$below")
      // Pipeline.encode rides the same gate (left join keeps OOV rows)
      conf.set("graft.vocab.broadcastMaxRows", "1")
      val toks = Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), " ")).as("token"))
      val (vocab, n) = graft.Pipeline.fitVocabSized(toks.select("token"))
      val encAbove = plan(graft.Pipeline.encode(toks, vocab,
        vocabRows = Some(n)))
      assert(shuffles(encAbove) >= 1,
        s"encode's vocab join should shuffle above the bound:\n$encAbove")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("q00: sessionize reuses ONE user_id shuffle for both windows and the groupBy") {
    val p = plan(graft.ops.Features.q00FlagshipSessionize(spark, sf))
    val hashExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashExchanges === 1, s"expected exactly 1 user_id exchange, got $hashExchanges:\n$p")
  }

  test("q11: aggregation is partial (map-side) before the exchange") {
    val p = plan(Relational.q11AggHashGroupby(spark, sf))
    // partial + final HashAggregate pair around one hash exchange
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs:\n$p")
    val hashExchanges = "hashpartitioning\\(l_returnflag".r.findAllIn(p).size
    assert(hashExchanges === 1, p)
  }

  test("q59/q60: every Window is key-partitioned; q58 pivots without a distinct-discovery job") {
    // merge + tensor paths must never regress to a single-task window;
    // q58's explicit value list means no extra collect-distinct pass
    // exists anywhere in its plan (it is a plain two-phase aggregate).
    for (df <- Seq(Relational.q59MergeUpsert(spark, sf),
        graft.ops.Features.q60PipelineTensors(spark, sf))) {
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"unpartitioned Window:\n$bad")
    }
    val p = plan(Relational.q58Pivot(spark, sf))
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate in pivot, got $aggs:\n$p")
  }

  test("q102: rank windows are (shard, bucket)-partitioned; offsets join is broadcast") {
    // the shard numbering must never regress to a per-shard (or
    // global) sort — the whole point of the bucketed prefix offsets
    val df = graft.ops.Layout.q102TrainingShards(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.size < 2 => w
    }
    assert(bad.isEmpty, s"under-partitioned Window in q102 plan:\n$bad")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q56: interval join is an equi-join with residual range, not a nested loop") {
    val p = plan(graft.ops.Streaming.q56StreamIntervalJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") && p.contains("user_id"), p)
  }

  test("q55: custom-state plan shuffles once and prunes the event scan") {
    val p = plan(graft.ops.StatefulSessionize.q55SessionEventsStateful(spark, sf))
    // one hash exchange into the state operator + the final
    // presentation range exchange — nothing else
    val nExchange = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(nExchange === 2, s"expected 2 exchanges (state + orderBy), got $nExchange:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("event_id") && readSchema.contains("user_id")
      && !readSchema.contains("props"), readSchema)
  }

  test("q63: hash-gate sampling shuffles only for the presentation sort") {
    val p = plan(Relational.q63DeterministicSample(spark, sf))
    // the sample itself is a map-side filter over the scan: the only
    // exchange allowed is the final orderBy's range partitioning
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"sampling must not shuffle:\n$p")
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q62: only the 1-row corpus count carries a broadcast hint") {
    val df = graft.ops.LlmOps.q62Tfidf(spark, sf)
    // the authored plan must not FORCE a broadcast of the per-term df
    // side (the distinct-term set is corpus-sized); whether Catalyst
    // broadcasts it from SIZE STATS at tiny SF is its call via AQE.
    val analyzed = df.queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hints === 1, s"expected exactly the n_docs broadcast hint:\n$analyzed")
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("q104: query terms broadcast into the postings stream; no cartesian") {
    val p = plan(graft.ops.Retrieval.q104Bm25TopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q105: every window in the quota plan is key-partitioned") {
    val df = graft.ops.Retrieval.q105SourceQuota(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in q105 plan:\n$bad")
  }

  test("q112: schema-full JSON projection reads only (event_id, props); one from_json per row") {
    val p = plan(graft.ops.Scalars.q112JsonSchemaProjection(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("event_id") && readSchema.contains("props"),
      readSchema)
    // the scan must NOT drag the unused wide columns along
    assert(!readSchema.contains("user_id") && !readSchema.contains("value"),
      readSchema)
    // parse-once-project-many: the payload is tokenized by ONE
    // from_json whose struct fields fan out — a per-path
    // get_json_object regression would print several extractors
    assert("from_json".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("get_json_object"), p)
  }

  test("q108: the only nested-loop join is the bounded dense-leg broadcast") {
    val p = plan(graft.ops.Retrieval.q108HybridRrf(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the dense leg's crossJoin(broadcast(qemb)) is the declared
    // ≤ nQueries-row bounded broadcast (q38/q91 convention) — allow
    // exactly that one nested loop, nothing else
    // formatted explain prints each node in the tree AND a detail
    // header "(N) BroadcastNestedLoopJoin" — count the headers
    val loops = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(loops <= 1, s"unexpected nested-loop joins:\n$p")
  }

  // the n-gram LM gates: (query, test name, exact broadcast-hash-join
  // count). Every model table and Kneser-Ney aux stat is a bounded
  // broadcast probed map-side — a sort-merge join would shuffle one row
  // PER TOKEN per table at corpus scale. The count is the order-K
  // probe join's 2K-1 probes plus, for Kneser-Ney, K aux broadcasts
  // (n1b, f1 … f(K-1)); a probe the shared join drops or duplicates
  // moves it.
  private val ngramPlans = Seq[(String, String, Int)](
    ("q117_perplexity_bigram",
      "q117: all model probes are broadcast hash joins; the only shuffle key is doc-level", 3),
    ("q130_perplexity_trigram",
      "q130: all five model probes are broadcast hash joins; the only shuffle key is doc-level", 5),
    ("q133_perplexity_backoff",
      "q133: backoff scoring shares q130's probe shape — broadcast-only, one doc-keyed shuffle", 5),
    ("q134_perplexity_kneser_ney",
      "q134: Kneser-Ney scoring keeps the broadcast-only probe shape (five shared + three aux)", 8),
    ("q135_perplexity_kn_4gram",
      "q135: 4-gram KN scoring keeps the broadcast-only probe shape (seven probes + four aux)", 11),
    ("q137_perplexity_kn_5gram",
      "q137: 5-gram KN scoring keeps the broadcast-only probe shape (nine probes + five aux)", 14))

  ngramPlans.foreach { case (query, name, joins) =>
    test(name) {
      val p = plan(SparkEntry.queries(query)(spark, sf))
      // formatted explain prints each node in the tree AND a detail
      // header "(N) BroadcastHashJoin" — count the headers
      assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size === joins, p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      // per-doc aggregation is partial before its exchange (map-side
      // combine on the token stream — the q11 law: partial + final
      // HashAggregate around one doc_id hash exchange)
      assert("HashAggregate".r.findAllIn(p).size >= 2, p)
      assert("hashpartitioning\\(doc_id".r.findAllIn(p).size >= 1, p)
    }
  }

  test("q138: portable SimHash pairs stay a bucket hash join — no cartesian, no SMJ") {
    // the pigeonhole bucket self-join over four 16-bit block keys
    // must plan as a hash equijoin; the exact Hamming filter is a
    // post-join projection, never a join-free cross product
    val df = graft.ops.LlmOps.q138DedupSimhashExact(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q139: scoring is broadcast-probe only; the per-lang fit window stays out of the scoring plan") {
    // the fitted tables are checkpointed bounded relations, so the
    // SCORING plan must carry no Window at all (the fit's
    // lang-partitioned rank ran out-of-band over the tiny reference)
    // and stay the broadcast-probe + one-doc-keyed-exchange shape of
    // the whole LM family
    val df = graft.ops.LlmOps.q139PerplexityPerLang(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).size >= 1, p)
  }

  test("q118: the serving probe scans are partition-pruned to the probed cells") {
    // build the memo index, then inspect the PROBE's executed plan:
    // both the code scan and the finalist vector fetch must carry
    // cell partition filters (static prune — probed cells are
    // driver-known), never a full-index scan
    graft.ops.LlmOps.q118SimsearchServing(spark, sf).collect()
    val memo = graft.ops.LlmOps.annIndexMemoPathOf(spark, sf, 16, 3, 8, 16, 2)
    val emb = Tables.embeddings(spark, sf)
    val probe = graft.ops.LlmOps.annIncremental(spark,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
        .select("vec_id", "embedding"),
      memo, k = 3, nProbe = 1)
    val p = plan(probe)
    // every parquet scan over the index carries a cell partition
    // filter; with nProbe=1 and 2 queries, at most 2 cells appear
    val scanFilters = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanFilters.nonEmpty, p)
    assert(scanFilters.forall(_.contains("cell")),
      s"index scan without a cell prune:\n${scanFilters.mkString("\n")}")
  }
}
