package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-semantics parity on a hand-built raw log fixture
  * (FIXTURES.md §B): two ETL batches, three sessions, filters that
  * actually drop rows, a session spanning two event dates. Expected
  * arrays worked by hand from the Snowflake SQL
  * (shopping_events_exploded.sql / nep_session_events.sql).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def rawJson(url: String, action: String, sku: String, ts: Long, sid: String): String =
    s"""{"event_type":"event_product","hashed_url":"$url","product_action":$action,"product_sku":"$sku","server_timestamp_epoch_ms":$ts,"session_id":"$sid"}"""

  // (etl_timestamp, etl_id, event_type, api_key, event_date, raw_data)
  lazy val raw = Seq(
    // stale batch — must be dropped entirely by the latest-etl join
    (1000L, "etl-old", "event_product", "k1", "2019-01-01",
      rawJson("u0", "\"add\"", "Old Sku", 1L, "s1")),
    // latest batch
    // s1: 4 product events (one 'remove' dropped), spans two dates
    (2000L, "etl-new", "event_product", "k1", "2019-01-02",
      rawJson("u1", "\"detail\"", "Sku A", 10L, "s1")),
    (2000L, "etl-new", "event_product", "k1", "2019-01-02",
      rawJson("u2", "\"add\"", "Sku B", 20L, "s1")),
    (2000L, "etl-new", "event_product", "k1", "2019-01-03",
      rawJson("u3", "\"purchase\"", "Sku C", 30L, "s1")),
    (2000L, "etl-new", "event_product", "k1", "2019-01-02",
      rawJson("u4", "\"remove\"", "Sku X", 15L, "s1")),
    // s2: only 2 product events -> dropped by ARRAY_SIZE > 2 extraction
    (2000L, "etl-new", "event_product", "k1", "2019-01-04",
      rawJson("u5", "\"detail\"", "Sku D", 40L, "s2")),
    (2000L, "etl-new", "event_product", "k1", "2019-01-04",
      rawJson("u6", "\"add\"", "Sku E", 50L, "s2")),
    // s3: pageviews only (event_type filter) + action null
    (2000L, "etl-new", "pageview", "k1", "2019-01-05",
      rawJson("u7", "null", "Sku F", 60L, "s3")),
    // s4: wrong api_key -> dropped by extraction param filter
    (2000L, "etl-new", "event_product", "k2", "2019-01-05",
      rawJson("u8", "\"add\"", "Sku G", 70L, "s4")),
    (2000L, "etl-new", "event_product", "k2", "2019-01-05",
      rawJson("u9", "\"add\"", "Sku H", 71L, "s4")),
    (2000L, "etl-new", "event_product", "k2", "2019-01-05",
      rawJson("u10", "\"add\"", "Sku I", 72L, "s4"))
  ).toDF("etl_timestamp", "etl_id", "event_type", "api_key", "event_date_s", "raw_data")
    .withColumn("event_date", to_date(col("event_date_s")))
    .drop("event_date_s")

  test("explode: latest batch only, JSON flattened, session_date = first event_date") {
    val ex = Pipeline.explodeEvents(raw).cache()
    assert(ex.filter(col("etl_id") === "etl-old").count() === 0)
    val s1 = ex.filter(col("session_id") === "s1")
      .orderBy("event_epoch_timestamp")
      .select("sku", "product_action", "session_date", "url")
      .collect()
    assert(s1.map(_.getString(0)).toSeq === Seq("sku_a", "sku_x", "sku_b", "sku_c"))
    // session spans 01-02..01-03 but session_date is the FIRST date everywhere
    assert(s1.map(_.get(2).toString).distinct.toSeq === Seq("2019-01-02"))
    // null product_action survives the explode (filter happens downstream)
    assert(ex.filter(col("session_id") === "s3" && col("product_action").isNull).count() === 1)
  }

  test("sessions: ordered SKU arrays, product-action filter, unique+not-null session_id") {
    val sess = Pipeline.sessionEvents(Pipeline.explodeEvents(raw)).cache()
    val rows = sess.collect().map(r =>
      r.getString(0) -> r.getSeq[String](3)).toMap
    assert(rows("s1") === Seq("sku_a", "sku_b", "sku_c")) // 'remove' dropped, time order kept
    assert(rows("s2") === Seq("sku_d", "sku_e"))
    assert(!rows.contains("s3")) // pageviews only
    // dbt schema tests re-expressed (schema.yml:9-13)
    assert(sess.filter(col("session_id").isNull).count() === 0)
    assert(sess.groupBy("session_id").count().filter(col("count") > 1).count() === 0)
  }

  test("extraction: api_key + date range + ARRAY_SIZE > 2") {
    val sess = Pipeline.sessionEvents(Pipeline.explodeEvents(raw))
    val got = Pipeline.extractSessions(sess, "k1",
      java.sql.Date.valueOf("2019-01-01"), java.sql.Date.valueOf("2019-03-14"))
    assert(got.select("session_id").as[String].collect().toSeq === Seq("s1"))
  }

  test("features: vocab freq-desc/token-asc, left-padded x, label = last id - 1") {
    val sess = Pipeline.sessionEvents(Pipeline.explodeEvents(raw))
      .filter(col("api_key") === "k1")
    val f = Pipeline.features(sess, maxLen = 4).orderBy("session_id").collect()
    // vocab over {sku_a,sku_b,sku_c,sku_d,sku_e}, all freq 1 -> ids by token asc: a=1..e=5
    // y carries the reference's -1 label shift (my_dbt_flow.py:339-340)
    val bySession = f.map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    assert(bySession("s1") === ((Seq(0, 0, 1, 2), 2))) // x = [a,b] padded, y = id(c)-1
    assert(bySession("s2") === ((Seq(0, 0, 0, 4), 4))) // x = [d] padded, y = id(e)-1
  }

  test("full chain composes into one plan") {
    val out = Pipeline.run(raw, "k1",
      java.sql.Date.valueOf("2019-01-01"), java.sql.Date.valueOf("2019-03-14"))
    assert(out.count() === 1)
  }

  test("explainStages exports the five-stage lineage DAG") {
    val stages = Pipeline.explainStages(raw, "k1",
      java.sql.Date.valueOf("2019-01-01"), java.sql.Date.valueOf("2019-03-14"))
    assert(stages.map(_._1) === Seq("explode_events", "session_events",
      "extract_sessions", "train_test_split", "features"))
    stages.foreach { case (n, plan) => assert(plan.nonEmpty, n) }
    // downstream stages embed upstream lineage (the DAG edge): the
    // features plan must contain the raw relation the explode reads
    val featPlan = stages.last._2
    assert(featPlan.contains("raw_data") || featPlan.contains("LocalRelation"), featPlan)
  }

  test("fitVocab/encode: train-only vocab, unseen test SKU -> OOV id 1, no dropped rows") {
    // train sessions cover {sku_a, sku_b, sku_c}; sku_a appears twice
    val train = Seq(
      ("t1", Seq("sku_a", "sku_b", "sku_a")),
      ("t2", Seq("sku_c", "sku_a"))
    ).toDF("session_id", "interactions")
    // test session ends in a SKU the train split never saw
    val test = Seq(
      ("u1", Seq("sku_b", "sku_zzz", "sku_a")),
      ("u2", Seq("sku_never", "sku_never2"))
    ).toDF("session_id", "interactions")
    val trainToks = train.select(posexplode(col("interactions")))
      .withColumnRenamed("col", "token").select("token")
    val vocab = Pipeline.fitVocab(trainToks)
    // Keras parity: <UNK> holds id 1, known ids start at 2 by freq
    // desc / token asc -> a=2 (freq 3), b=3, c=4 (freq 1, token asc)
    val v = vocab.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(v === Map("sku_a" -> 2, "sku_b" -> 3, "sku_c" -> 4))
    assert(Pipeline.vocabSize(vocab) === 4) // 3 known + <UNK>
    // encode the TEST split through the TRAIN vocab: unseen tokens map
    // to OOV, and crucially no token row disappears
    val testToks = test.select(col("session_id"), posexplode(col("interactions")))
      .withColumnRenamed("col", "sku")
    val enc = Pipeline.encode(testToks, vocab, "sku")
    assert(enc.count() === 5) // all 5 test token rows survive
    val u1 = enc.filter(col("session_id") === "u1").orderBy("pos")
      .select("id").as[Int].collect().toSeq
    assert(u1 === Seq(3, Pipeline.OovId, 2)) // b=3, zzz=OOV, a=2
    // featuresWithVocab: an all-OOV session still yields a row, with
    // x ids OOV-mapped and y = OovId - 1 = 0 (the <UNK> class)
    val f = Pipeline.featuresWithVocab(test, vocab, maxLen = 3)
      .orderBy("session_id").collect()
    assert(f.length === 2)
    val byId = f.map(r => r.getString(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    assert(byId("u1") === ((Seq(0, 3, Pipeline.OovId), 2 - 1)))
    assert(byId("u2") === ((Seq(0, 0, Pipeline.OovId), Pipeline.OovId - 1)))
  }

  test("prepareCorpus: monotone stage counts, reproducible split, idempotent") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val (cleaned, r) = Pipeline.prepareCorpus(spark, docs)
    assert(r.input >= r.afterExactDedup)
    assert(r.afterExactDedup >= r.afterNearDedup)
    assert(r.afterNearDedup >= r.afterQuality)
    assert(r.train + r.holdout === r.afterQuality)
    assert(cleaned.count() === r.afterQuality)
    // hash-gate split lands near 90/10 and is exactly reproducible
    val frac = r.train.toDouble / r.afterQuality
    assert(frac > 0.8 && frac < 0.97, s"train frac $frac")
    val (_, r2) = Pipeline.prepareCorpus(spark, docs)
    assert(r2 === r)
    // idempotence: a second pass over the cleaned corpus removes nothing
    val (_, r3) = Pipeline.prepareCorpus(spark, cleaned.drop("is_train"))
    assert(r3.afterQuality === r.afterQuality)
    assert(r3.input === r3.afterNearDedup)
    // the exact pair source can only find MORE near-dup pairs than
    // LSH (its candidates are exhaustive, verification identical), so
    // exhaustive near-dedup keeps at most as many docs
    val (_, rExact) = Pipeline.prepareCorpus(spark, docs, exactNearDedup = true)
    assert(rExact.afterNearDedup <= r.afterNearDedup)
    assert(rExact.afterExactDedup === r.afterExactDedup)
  }

  test("prepareCorpus paragraph stage: boilerplate stripped per q86 semantics, reported") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val (cleaned, r) = Pipeline.prepareCorpus(spark, docs, paraDedupTokens = Some(20))
    // same keep rule as the declared q86 — the surviving text of any
    // kept doc must equal q86's clean_text for that doc
    val q86 = ops.LlmOps.dedupParagraphs(docs.select("doc_id", "text"), 20)
      .select(col("doc_id"), col("clean_text")).as[(Long, String)].collect().toMap
    val kept = cleaned.select("doc_id", "text").as[(Long, String)].collect()
    assert(kept.nonEmpty)
    kept.foreach { case (id, text) =>
      // doc may have been rewritten by the para stage BEFORE near-dup
      // filtering; where it survived, the text is the q86 cleaning
      assert(q86.contains(id) && q86(id) === text, s"doc $id")
    }
    assert(r.paraDropped >= 0L)
    // a corpus of pure repeated boilerplate collapses to one survivor
    val boiler = (0L until 6L).map(i =>
      (i, Seq.fill(20)("boil").mkString(" "))).toDF("doc_id", "text")
    val (keptB, rB) = Pipeline.prepareCorpus(spark, boiler,
      paraDedupTokens = Some(20), minTokens = 1, dupMilliMax = 1000, topMilliMax = 1000)
    // exact dedup keeps doc 0 only; its paragraph is then globally
    // first-occurrence and survives
    assert(rB.afterExactDedup === 1L && rB.paraDropped === 0L)
    assert(keptB.select("doc_id").as[Long].collect().toSeq === Seq(0L))
  }

  test("releaseCorpus: shards + holdout + datacard + manifest consistent and reproducible") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val out = java.nio.file.Files.createTempDirectory("graft_release").toString
    val (report, card) = Pipeline.releaseCorpus(spark, docs, out, nShards = 4)
    // shards hold exactly the train split, no row lost or duplicated
    val shards = spark.read.parquet(s"$out/train_shards")
    assert(shards.count() === report.train)
    assert(shards.select("__shard").distinct().count() === 4L)
    val holdout = spark.read.parquet(s"$out/holdout")
    assert(holdout.count() === report.holdout)
    assert(shards.select("doc_id").intersect(holdout.select("doc_id")).count() === 0L)
    // datacard totals equal the released corpus
    val written = spark.read.parquet(s"$out/datacard")
    assert(written.agg(sum("n_docs")).head().getLong(0) ===
      report.train + report.holdout)
    assert(written.collect().toSeq === card.collect().toSeq)
    // manifest mirrors the report — long (name, value) rows, the ONE
    // schema both release entry points ship (round-12 advice)
    val m = spark.read.parquet(s"$out/manifest")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("input") === report.input)
    assert(m("train") === report.train)
    assert(m("n_shards") === 4L)
    assert(m.keySet === (report.counters.map(_._1).toSet + "n_shards"))
    // the released schema is clean: the internal md5 shuffle gate is
    // sort-only and must NOT ship in the training shards
    assert(!shards.columns.contains("__gate"))
    // a re-release reproduces every shard file's CONTENT bit-for-bit
    val before = shards.orderBy("__shard", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    val out2 = java.nio.file.Files.createTempDirectory("graft_release2").toString
    Pipeline.releaseCorpus(spark, docs, out2, nShards = 4)
    val after = spark.read.parquet(s"$out2/train_shards")
      .orderBy("__shard", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(after === before)
  }

  test("prepareCorpus source quota: per-source survivors capped at the q105 keep set") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val (base, rBase) = Pipeline.prepareCorpus(spark, docs)
    assert(rBase.quotaDropped === 0L)
    val cap = 3
    val (kept, r) = Pipeline.prepareCorpus(spark, docs,
      sourceQuotaCap = Some(cap))
    // no source exceeds the cap, and the kept set is exactly the
    // q105 rule applied to the pre-quota survivor set
    val perSource = kept.groupBy("source").count()
      .as[(String, Long)].collect()
    assert(perSource.nonEmpty && perSource.forall(_._2 <= cap))
    val expect = ops.Retrieval.sourceQuotaOf(
        base.drop("is_train").select("doc_id", "source", "text"), cap)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq === expect)
    assert(r.quotaDropped === rBase.afterQuality - expect.size)
    // a corpus with NO source column degrades to one synthetic
    // domain: a global quality top-cap
    val plain = docs.select("doc_id", "text")
    val (keptP, rP) = Pipeline.prepareCorpus(spark, plain,
      sourceQuotaCap = Some(cap))
    assert(keptP.count() === cap.toLong)
    assert(rP.quotaDropped === rBase.afterQuality - cap)
  }

  test("prepareCorpus decontamination: eval-overlapping docs are dropped") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val (base, rBase) = Pipeline.prepareCorpus(spark, docs)
    assert(rBase.decontaminated === 0L)
    // the eval set contains one surviving corpus doc verbatim — that
    // doc (and only near-copies of it) must be dropped from training
    val leakedId = base.orderBy("doc_id").select("doc_id").as[Long].head()
    val eval_ = docs.filter(col("doc_id") === leakedId)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val (clean, r) = Pipeline.prepareCorpus(spark, docs, evalDocs = Some(eval_))
    assert(r.decontaminated >= 1L)
    assert(clean.filter(col("doc_id") === leakedId).count() === 0L)
    assert(r.afterQuality === rBase.afterQuality - r.decontaminated)
    // a clean eval set drops nothing
    val cleanEval = Seq((9999999L, "completely unrelated zebra quux tokens"))
      .toDF("doc_id", "text")
    val (_, r2) = Pipeline.prepareCorpus(spark, docs, evalDocs = Some(cleanEval))
    assert(r2.decontaminated === 0L)
    assert(r2.afterQuality === rBase.afterQuality)
  }

  test("prepareCorpus model gates: ppl tail and sub-threshold DSIR docs dropped, reported") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val ref = docs.filter(col("source") === "src0").select("text")
    val (base, rBase) = Pipeline.prepareCorpus(spark, docs)
    assert(rBase.pplDropped === 0L && rBase.dsirDropped === 0L)
    // perplexity gate: exactly the q100-tail docs among the survivors
    // disappear, and the report counts them
    val (ppl, rP) = Pipeline.prepareCorpus(spark, docs, perplexityRef = Some(ref))
    val survivors = base.select("doc_id", "lang", "text")
    val expectTail = ops.LlmOps.perplexityFilter(survivors, ref, 4096, 4910000L, 4940000L)
      .filter(col("ppl_bucket") === "tail").select("doc_id").as[Long].collect().toSet
    assert(rP.pplDropped === expectTail.size.toLong)
    assert(ppl.filter(col("doc_id").isin(expectTail.toSeq: _*)).count() === 0L)
    assert(rP.afterQuality === rBase.afterQuality - rP.pplDropped)
    // DSIR gate on its own: the q101 keep rule over the same survivors
    val (dsir, rD) = Pipeline.prepareCorpus(spark, docs, dsirTarget = Some(ref),
      dsirThresholdMicro = -210000L)
    val expectDrop = ops.LlmOps.importanceResample(survivors, ref, -210000L)
      .filter(!col("kept")).select("doc_id").as[Long].collect().toSet
    assert(rD.dsirDropped === expectDrop.size.toLong)
    assert(dsir.filter(col("doc_id").isin(expectDrop.toSeq: _*)).count() === 0L)
    assert(rD.pplDropped === 0L)
    assert(expectTail.nonEmpty && expectDrop.nonEmpty, "gates should bite on this corpus")
  }

  test("prepareCorpus observed report equals per-stage count() twin, every gate on") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
    val ref = docs.filter(col("source") === "src0").select("text")
    val eval_ = docs.filter(col("doc_id") % 13 === 0).select("doc_id", "text")
    val (cleaned, r) = Pipeline.prepareCorpus(spark, docs,
      evalDocs = Some(eval_), contaminationMilli = 700,
      paraDedupTokens = Some(20), perplexityRef = Some(ref),
      dsirTarget = Some(ref), sourceQuotaCap = Some(3))
    // the twin: every stage built from the operators on its own, in
    // the chain's order, and counted with a plain count()
    def pin(d: org.apache.spark.sql.DataFrame) = d.localCheckpoint()
    val exact = pin(docs.join(
      docs.groupBy(sha2(col("text"), 256)).agg(min("doc_id").as("doc_id"))
        .select("doc_id"), "doc_id"))
    val para = pin(exact.drop("text")
      .join(ops.LlmOps.dedupParagraphs(exact.select("doc_id", "text"), 20)
        .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
      .filter(length(col("text")) > 0))
    val labels = ops.Graph.connectedComponents(
        ops.LlmOps.minhashPairsOf(para, 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .withColumnRenamed("node", "doc_id")
    val near = pin(para.join(labels, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .drop("component"))
    val quality = pin(ops.LlmOps.heuristicQualityGate(near, 5, 300, 200))
    val (lm, oov) = ops.LlmOps.fitUnigramLm(ref, 4096)
    val ppl = pin(ops.LlmOps.lmTailGate(quality, lm, oov, 4910000L, 4940000L))
    val dsir = pin(ppl.join(ops.LlmOps.importanceResample(
        ppl.select("doc_id", "lang", "text"), ref, -210000L)
      .filter(!col("kept")).select("doc_id"), Seq("doc_id"), "left_anti"))
    val decon = pin(ops.LlmOps.decontaminationGate(dsir,
      ops.LlmOps.shingles(eval_).select("shingle").distinct(), 700))
    val quota = pin(decon.join(ops.Retrieval.sourceQuotaOf(
      decon.select("doc_id", "source", "text"), 3).select("doc_id"), "doc_id"))
    val train = quota
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("e6"))
      .count()
    val want = Pipeline.CorpusReport(input = docs.count(),
      afterExactDedup = exact.count(), afterNearDedup = near.count(),
      afterQuality = quota.count(), train = train,
      holdout = quota.count() - train,
      decontaminated = dsir.count() - decon.count(),
      paraDropped = exact.count() - para.count(),
      pplDropped = quality.count() - ppl.count(),
      dsirDropped = ppl.count() - dsir.count(),
      quotaDropped = decon.count() - quota.count())
    want.counters.zip(r.counters).foreach { case ((n, w), (_, got)) =>
      assert(got === w, s"counter $n")
    }
    assert(r === want)
    assert(cleaned.count() === r.afterQuality)
    assert(cleaned.select("doc_id").as[Long].collect().sorted.toSeq ===
      quota.select("doc_id").as[Long].collect().sorted.toSeq)
    // the discriminating gates bite, so a misplaced observation moves
    // some counter
    assert(r.afterNearDedup < r.afterExactDedup - r.paraDropped,
      "near-dup idle")
    assert(r.pplDropped > 0 && r.dsirDropped > 0 && r.decontaminated > 0 &&
      r.quotaDropped > 0, s"a gate is idle: $r")
  }

  test("q123 SQL view stack == q55 stateful DataFrame surface, row for row") {
    // the declared SQL↔DataFrame parity law: the spark.sql query over
    // the registered temp views and the mapGroups sessionizer are two
    // ENGINES for the same semantics and must agree exactly
    val sf = SharedSpark.sfTiny
    val viaSql = Pipeline.q123SqlSessionEvents(spark, sf)
      .collect().map(_.toString).toSeq
    val viaDf = ops.StatefulSessionize.q55SessionEventsStateful(spark, sf)
      .select("session_id", "api_key", "session_date", "interactions")
      .orderBy("session_id")
      .collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty)
    assert(viaSql === viaDf)
    // the view registration is idempotent and the views are live for
    // ad-hoc SQL afterwards (the SQL entry surface contract)
    Tables.registerTempViews(spark, sf)
    assert(spark.sql("SELECT count(*) AS n FROM nation").head().getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) AS n FROM nep_session_events").head().getLong(0) ===
      viaSql.size.toLong)
  }

  test("q123 bound parameters select: changed bindings change the result") {
    // the reference binds api_key and a date range into its SQL
    // (%(api_key)s / dbt vars); the port binds them through
    // spark.sql(sql, args) named markers. The defaults select
    // everything (the declared hash-gated query); a changed binding
    // must visibly narrow the result — parameters that don't
    // parameterize are decoration.
    val sf = SharedSpark.sfTiny
    val all = Pipeline.q123SqlSessionEvents(spark, sf).collect()
    assert(all.nonEmpty)
    // a foreign api_key selects nothing (every synthetic event is k1)
    assert(Pipeline.q123SqlSessionEvents(spark, sf, apiKey = "k2")
      .collect().isEmpty)
    // a one-day window selects a strict non-empty subset (the tiny
    // corpus spans multiple days)
    val day = all.head.getAs[java.sql.Date]("session_date").toString
    val oneDay = Pipeline.q123SqlSessionEvents(spark, sf,
      startDate = day, endDate = day).collect()
    assert(oneDay.nonEmpty && oneDay.length < all.length)
    assert(oneDay.forall(_.getAs[java.sql.Date]("session_date")
      .toString == day))
    // and the window's rows are exactly the full result's rows for
    // that day — binding filters, it never rewrites
    val expect = all.filter(
      _.getAs[java.sql.Date]("session_date").toString == day)
    assert(oneDay.map(_.toString).toSeq === expect.map(_.toString).toSeq)
  }

  test("registerTempViews skips tables whose parquet dir is absent") {
    // scale-probe replicas materialize only the fact tables a query
    // reads; the SQL surface must register what exists rather than
    // abort on what doesn't (round-10 advice)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_partial_replica").toString
    val sf = SharedSpark.sfTiny
    // isolated session: temp views are session-scoped state, and the
    // shared test session's views are live for concurrently-running
    // suites — this test must not drop them out from under anyone
    val s2 = spark.newSession()
    Tables.nation(s2, sf).write.parquet(s"$dir/nation.parquet")
    Tables.registerTempViews(s2, sf) // full registration first...
    Tables.registerTempViews(s2, dir) // ...then the partial replica
    assert(s2.sql("SELECT count(*) AS n FROM nation").head().getLong(0) > 0)
    // absent tables' PREVIOUS views are dropped, not left silently
    // serving the other corpus: querying one now fails loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      s2.sql("SELECT count(*) FROM lineitem").collect()
    }
  }

  test("q125 corpus pipeline: memoized run == fresh chain run; internal consistency") {
    val sf = SharedSpark.sfTiny
    // retire any persisted prepared-corpus/label memos so the first
    // run provably executes the full chain, then a second run serves
    // from the installed memo — both must be row-identical (the
    // memo-clone correctness rule the lifecycle queries live by)
    ops.LlmOps.invalidateMemosFor(spark, sf)
    val fresh = Pipeline.q125CorpusPipeline(spark, sf)
      .collect().map(_.toString).toSeq
    val memod = Pipeline.q125CorpusPipeline(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fresh.nonEmpty)
    assert(memod === fresh)
    // internal consistency of the one-relation output
    val rows = Pipeline.q125CorpusPipeline(spark, sf).collect()
    val rep = rows.filter(_.getString(0) == "report")
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    val docs = rows.filter(_.getString(0) == "doc")
    assert(rep("mixture_kept") === docs.length.toLong,
      "doc rows must be exactly the mixture-kept set")
    assert(rep("final_kept") === rep("train") + rep("holdout"))
    assert(rep("input") >= rep("after_exact_dedup"))
    assert(rep("after_exact_dedup") - rep("para_dropped") >=
      rep("after_near_dedup"))
    assert(rep("final_kept") > 0 && rep("train") > 0)
    // the discriminating gates bite on this corpus — a stage that
    // never drops is not demonstrating its semantics (the tiny corpus
    // has no EXACT duplicates, so that stage is exercised by the
    // larger SFs and its own q36 gate instead)
    assert(rep("after_exact_dedup") - rep("para_dropped") >
      rep("after_near_dedup"), "near-dup resolution idle")
    assert(rep("ppl_dropped") > 0, "ppl gate idle")
    assert(rep("decontaminated") > 0, "decontamination idle")
    assert(rep("quota_dropped") > 0, "source quota idle")
    assert(rep("mixture_kept") < rep("train"), "mixture budget idle")
    // positions are dense 0..n-1 within each shard
    docs.groupBy(_.getInt(3)).foreach { case (shard, rs) =>
      val pos = rs.map(_.getLong(4)).sorted
      assert(pos === (0L until rs.length.toLong).toArray.toSeq.sorted,
        s"shard $shard positions not dense")
    }
    // doc rows carry real shard ids in [0, 8)
    assert(docs.forall(r => r.getInt(3) >= 0 && r.getInt(3) < 8))
  }

  test("q126 corpus release: read-back equals the prepared corpus; manifest == q125 report") {
    val sf = SharedSpark.sfTiny
    val rows = Pipeline.q126CorpusRelease(spark, sf).collect()
    // deterministic: a second release (rewrite + re-read) is identical
    val again = Pipeline.q126CorpusRelease(spark, sf).collect()
    assert(again.map(_.toString).toSeq === rows.map(_.toString).toSeq)
    val man = rows.filter(_.getString(0) == "manifest")
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    // manifest read-back == the q125 report counters (shared names)
    val q125rep = Pipeline.q125CorpusPipeline(spark, sf).collect()
      .filter(_.getString(0) == "report")
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    q125rep.foreach { case (n, v) =>
      if (n != "mixture_kept")
        assert(man(n) === v, s"manifest counter $n drifted from q125")
    }
    assert(man("n_shards") === 8L)
    // shard read-back IS the train split: same doc_ids, every shard
    // id in [0, nShards), and the q125 mixture-kept docs are a subset
    val docRows = rows.filter(_.getString(0) == "doc")
    assert(docRows.length.toLong === man("train"))
    assert(docRows.forall(r => r.getInt(3) >= 0 && r.getInt(3) < 8))
    val holdRows = rows.filter(_.getString(0) == "holdout")
    assert(holdRows.length.toLong === man("holdout"))
    val (cleaned, _) = Pipeline.preparedCorpusCached(spark, sf, 5000)
    val trainIds = cleaned.filter(col("is_train"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docRows.map(_.getLong(2)).toSet === trainIds)
    // cross-declaration consistency: q125's mixture-kept docs are a
    // budgeted subset of the train split q126 releases — the two
    // consumers of the one prepared corpus cannot disagree on it
    val q125Docs = Pipeline.q125CorpusPipeline(spark, sf).collect()
      .filter(_.getString(0) == "doc").map(_.getLong(2)).toSet
    assert(q125Docs.subsetOf(trainIds),
      "q125 mixture kept a doc q126 does not release")
    // the datacard read-back matches datacardOf recomputed over the
    // prepared corpus (the write→read round-trip loses nothing)
    val cardBack = rows.filter(_.getString(0) == "card")
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    val direct = ops.LlmOps.datacardOf(cleaned.select(col("doc_id"),
        col("lang"), col("source"), col("text"))).collect()
    direct.foreach { r =>
      val key = r.getString(0) + ":" + r.getString(1)
      assert(cardBack(s"$key/n_docs") === r.getLong(2))
      assert(cardBack(s"$key/n_tokens") === r.getLong(3))
      assert(cardBack(s"$key/quality_milli_sum") === r.getLong(6))
    }
    // token counts on doc rows are the CLEANED text's counts (> 0)
    assert(docRows.forall(_.getLong(4) > 0L))
  }

  test("q124 vocab decode: encode ∘ decode = identity over the corpus; bounded broadcast vocab") {
    val sf = SharedSpark.sfTiny
    val decoded = ops.Features.q124VocabDecode(spark, sf)
    val joined = decoded.join(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")), "doc_id")
    assert(joined.count() === Tables.documents(spark, sf).count())
    // decode must reproduce the tokenized original exactly — every
    // doc, token for token (split-then-rejoin normalizes nothing on
    // this corpus: single-space separated fixtures)
    assert(joined.filter(col("decoded") =!= col("text")).count() === 0L)
  }
}
