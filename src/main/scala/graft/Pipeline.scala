package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline (ingest → explode → sessionize → features)
  * as one lazily-composed Catalyst plan — the Spark shape of the
  * reference's dbt-view + Metaflow-step chain (SURVEY.md §3).
  *
  * Reference semantics mirrored per stage:
  *  - explode:  /root/reference/src/dbt/models/metaflow/shopping_events_exploded.sql:7-29
  *  - sessions: /root/reference/src/dbt/models/metaflow/nep_session_events.sql:7-19
  *  - extract:  /root/reference/src/my_dbt_flow.py:234-252
  *  - split:    /root/reference/src/my_dbt_flow.py:256-264
  *  - features: /root/reference/src/my_dbt_flow.py:319-340 (tokenize/pad/label)
  *
  * Where the reference materialized per-step artifacts to S3 and
  * pulled full result sets into driver memory (fetch_all,
  * snowflake_client.py:48-62), this chain keeps the DATA distributed
  * end to end; only the final Dataset hand-off leaves the cluster.
  * Note the two-phase rank/split stages (trainTestSplit, features)
  * run bounded driver-side jobs at CONSTRUCTION time — per-date /
  * per-bucket counts and a vocab checkpoint, constant-sized in the
  * corpus — so building those stages is not plan-only.
  */
object Pipeline {

  /** Raw append-only log schema (upload_to_snowflake.py:56-70):
    * etl_timestamp LONG, etl_id STRING, event_type STRING,
    * api_key STRING, event_date DATE, raw_data STRING (JSON).
    */

  /** Stage 1 → 2: keep only the newest ETL batch, flatten the JSON
    * payload, stamp SESSION_DATE as the session's first event date.
    * Snowflake `::TYPE` casts of missing paths yield NULL —
    * get_json_object matches that exactly.
    */
  def explodeEvents(raw: DataFrame): DataFrame = {
    val latest = raw.select(col("etl_id")).orderBy(desc("etl_timestamp"))
      .limit(1).distinct()
    val flat = raw.join(broadcast(latest), "etl_id")
      .select(
        col("etl_id"), col("api_key"), col("event_date"), col("event_type"),
        get_json_object(col("raw_data"), "$.hashed_url").as("url"),
        get_json_object(col("raw_data"), "$.product_action").as("product_action"),
        regexp_replace(lower(get_json_object(col("raw_data"), "$.product_sku")), " ", "_").as("sku"),
        get_json_object(col("raw_data"), "$.server_timestamp_epoch_ms").cast("long").as("event_epoch_timestamp"),
        get_json_object(col("raw_data"), "$.session_id").as("session_id"))
    val w = Window.partitionBy("session_id").orderBy("event_epoch_timestamp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flat
      .withColumn("session_date", first("event_date").over(w))
      .orderBy("session_id", "event_epoch_timestamp")
  }

  /** Stage 2 → 3: product interactions only, one row per session with
    * the time-ordered SKU array (ordered collect — nondeterministic
    * `collect_list` is always sorted through the struct trick, with
    * the SKU as tie-break like Snowflake's stable input order).
    */
  def sessionEvents(exploded: DataFrame): DataFrame =
    exploded
      .filter(col("event_type") === "event_product" &&
        col("product_action").isin("detail", "add", "purchase"))
      .groupBy("session_id", "api_key", "session_date")
      .agg(ops.Scalars.orderedCollect(
        col("event_epoch_timestamp"), col("sku"), "sku").as("interactions"))
      .orderBy("session_date", "session_id")

  /** Stage 3 → 4: the parameterized extraction query
    * (my_dbt_flow.py:234-252): tenant key, half-open date window,
    * ARRAY_SIZE > minSize, ordered by session date.
    */
  def extractSessions(sessions: DataFrame, apiKey: String,
      start: java.sql.Date, end: java.sql.Date, minSize: Int = 2): DataFrame =
    sessions
      .filter(col("api_key") === lit(apiKey) &&
        col("session_date") > lit(start) && col("session_date") <= lit(end) &&
        size(col("interactions")) > minSize)
      .orderBy("session_date", "session_id")

  /** Stage 4 → 5: ordered 90/10 time split without driver-side
    * slicing (my_dbt_flow.py:259-264) and without a global
    * single-partition window — delegates to the two-phase
    * per-date-counts + broadcast-offset split (Features
    * .twoPhaseTimeSplit), partitioning rank work by session_date.
    * Runs the bounded per-date-count job at construction time (not
    * plan-only; see `run`).
    */
  def trainTestSplit(sessions: DataFrame, frac: Double = 0.9): DataFrame =
    ops.Features.twoPhaseTimeSplit(sessions, "session_date", "session_id", frac)

  /** Stage 5 → tensors: vocab (frequency-desc, token-asc — the
    * relational contract replacing Keras insertion order; two-phase
    * globalRowNumber, no single-partition window), encode, left-pad x
    * to maxLen with 0 = pad, label y = last token id MINUS ONE — the
    * reference's label shift (my_dbt_flow.py:339-340) applied here so
    * the tensor hand-off is drop-in: x ids are 1-based (0 reserved
    * for pad), y is the 0-based class index.
    */
  def features(sessions: DataFrame, maxLen: Int = 20): DataFrame = {
    val toks = sessions.select(col("session_id"), posexplode(col("interactions")))
      .withColumnRenamed("col", "sku")
    // counted size gate, not a raw broadcast hint: the SKU vocab is
    // catalog-bounded on the reference's data, but this is a library
    // entry point — the same chain on a DATA-bound token universe
    // must fall back to the shuffle join above the gate, like every
    // sibling vocab join (encode, q30). The count is free: the id
    // assignment already folded it from its per-bucket counts.
    val (vocabRanked, nVocab) = ops.Features.globalRowNumberWithTotal(
        toks.groupBy("sku").agg(count(lit(1)).as("freq")),
        "id", 32, desc("freq"), asc("sku"))
    val vocab = vocabRanked
      .select(col("sku"), col("id").cast("int").as("id"))
    val enc = toks.join(ops.Features.sizeGatedBroadcast(vocab, nVocab), "sku")
      .groupBy("session_id")
      .agg(ops.Scalars.orderedCollect(col("pos"), col("id"), "id").as("ids"))
    enc.select(
      col("session_id"),
      ops.Scalars.padTo(slice(col("ids"), lit(1), size(col("ids")) - 1), maxLen, lit(0)).as("x"),
      (element_at(col("ids"), -1) - lit(1)).as("y"))
  }

  /** Keras-`Tokenizer` OOV id: `oov_token='<UNK>'` always occupies
    * index 1 of `word_index` (my_dbt_flow.py:326-333), known tokens
    * start at 2, and 0 stays reserved for padding.
    */
  val OovId = 1

  /** Fit a vocabulary on the TRAIN split only — the reference's
    * `tokenizer.fit_on_texts(train_sessions)` (my_dbt_flow.py:326-335)
    * as a relational contract: ids 2..V+1 by frequency desc, token asc
    * (our declared tie-break replacing Keras insertion order), with id
    * [[OovId]] reserved for `<UNK>`. Two-phase globalRowNumber — no
    * single-partition window even at web-corpus vocabulary sizes.
    *
    * @param tokens one row per token OCCURRENCE (the frequency source),
    *               e.g. the posexploded train split
    * @return (tokenCol, id) — one row per DISTINCT known token
    */
  def fitVocab(tokens: DataFrame, tokenCol: String = "token"): DataFrame =
    fitVocabSized(tokens, tokenCol)._1

  /** [[fitVocab]] plus the vocabulary's row count — free at fit time
    * ([[ops.Features.globalRowNumberWithTotal]] folds it from the
    * per-bucket counts id assignment needs anyway), and what
    * [[encode]]'s counted broadcast gate wants so it never pays a
    * count job of its own.
    */
  def fitVocabSized(tokens: DataFrame,
      tokenCol: String = "token"): (DataFrame, Long) = {
    val (ranked, n) = ops.Features.globalRowNumberWithTotal(
      tokens.groupBy(tokenCol).agg(count(lit(1)).as("freq")),
      "id", 32, desc("freq"), asc(tokenCol))
    (ranked.select(col(tokenCol), (col("id") + lit(1)).cast("int").as("id")),
      n)
  }

  /** `VOCAB_SIZE = len(tokenizer.word_index)` (my_dbt_flow.py:335):
    * distinct known tokens PLUS the `<UNK>` entry.
    */
  def vocabSize(vocab: DataFrame): Long = vocab.count() + 1

  /** Encode token occurrences through a fitted vocab — the reference's
    * `texts_to_sequences` on a vocab fitted elsewhere: LEFT join +
    * coalesce to [[OovId]], so a test-split token unseen at fit time
    * maps to `<UNK>` instead of silently dropping its row (the
    * inner-join trap: an inner join here would DELETE unseen-SKU
    * events from the encoded session). The vocab side is broadcast
    * only under the counted [[ops.Features.vocabBroadcastMaxRows]]
    * gate (plain shuffle join above it): distinct-token count is
    * DATA-bound on an LLM corpus, and an unconditional hint is an
    * OOM past the broadcast limit. Pass `vocabRows` when the caller
    * already knows the size ([[fitVocabSized]]) — the counted gate
    * then decides the hint at plan time. Without it the join is left
    * UN-HINTED and AQE's runtime sizing makes the call instead: after
    * the vocab side's map stage AQE converts the join to broadcast
    * when the vocab proves small, and keeps the shuffle join when it
    * doesn't — same safety as the counted gate, and the 2-arg form
    * stays a pure plan builder (no count job, no localCheckpoint
    * pinning the vocab to executor storage at construction time;
    * round-12/13 advice).
    */
  def encode(toks: DataFrame, vocab: DataFrame, tokenCol: String = "token",
      vocabRows: Option[Long] = None): DataFrame = {
    // the vocab's first column is its token column whatever it was
    // named at fit time; align it with this side's tokenCol so the
    // USING join resolves
    val aligned = vocab.select(
      col(vocab.columns(0)).as(tokenCol), col(vocab.columns(1)).as("id"))
    val hinted = vocabRows match {
      case Some(r) => ops.Features.sizeGatedBroadcast(aligned, r)
      case None => aligned // un-hinted: AQE decides at runtime
    }
    toks.join(hinted, Seq(tokenCol), "left")
      .withColumn("id", coalesce(col("id"), lit(OovId)))
  }

  /** [[features]] with an externally fitted vocab — the reference's
    * train/test workflow: fit on train ([[fitVocab]]), encode BOTH
    * splits through that vocab with OOV mapping. Same tensor contract
    * as [[features]] (x left-padded, 0 = pad, y = last id − 1) except
    * ids are the OOV-aware 2-based kind, so an unseen trailing SKU
    * yields y = OovId − 1 = 0 — the `<UNK>` class, exactly what the
    * reference's `s[-1]-1` computes for an OOV tail.
    *
    * Pass `vocabRows` when the fit already knows the vocab size
    * ([[fitVocabSized]]): the broadcast hint is then decided at plan
    * time. Without it [[encode]] leaves the vocab join un-hinted and
    * AQE's runtime sizing picks broadcast vs shuffle — either way
    * this is a pure plan builder (no construction-time jobs).
    */
  def featuresWithVocab(sessions: DataFrame, vocab: DataFrame,
      maxLen: Int = 20, vocabRows: Option[Long] = None): DataFrame = {
    val toks = sessions.select(col("session_id"), posexplode(col("interactions")))
      .withColumnRenamed("col", "sku")
    val enc = encode(toks, vocab, "sku", vocabRows)
      .groupBy("session_id")
      .agg(ops.Scalars.orderedCollect(col("pos"), col("id"), "id").as("ids"))
    enc.select(
      col("session_id"),
      ops.Scalars.padTo(slice(col("ids"), lit(1), size(col("ids")) - 1), maxLen, lit(0)).as("x"),
      (element_at(col("ids"), -1) - lit(1)).as("y"))
  }

  /** Full chain on a raw append-only log.
    *
    * NOT plan-only: the features stage runs bounded Spark jobs at
    * CONSTRUCTION time (per-bucket vocab counts + a localCheckpoint
    * inside Features.globalRowNumber — output sized by #buckets /
    * #distinct tokens, not by the corpus). Callers that build the
    * chain without executing it still pay that cost, and streaming
    * inputs cannot flow through these stages; use the stage functions
    * directly if plan-only composition matters.
    */
  def run(raw: DataFrame, apiKey: String, start: java.sql.Date,
      end: java.sql.Date): DataFrame =
    features(extractSessions(sessionEvents(explodeEvents(raw)), apiKey, start, end))

  /** #123 The SQL ENTRY SURFACE — the reference's transform layer IS
    * SQL (two dbt view models, shopping_events_exploded.sql +
    * nep_session_events.sql:7-19), so a user porting that project
    * writes `spark.sql`, not DataFrame chains. This declared query
    * proves view-composition parity end to end: register every
    * testdata table as a temp view ([[Tables.registerTempViews]]),
    * define the two dbt models AS SQL VIEWS (the flatten→sessionize
    * chain over the harness event log, with q55's declared
    * session/sku synthesis standing in for the reference's JSON
    * payload), and serve the result with one `spark.sql` SELECT over
    * the view stack — hash-gated by the SAME oracle as q55, so the
    * SQL surface and the stateful DataFrame surface are pinned to
    * each other every round.
    *
    * Catalyst inlines temp views exactly like dbt view expansion
    * (SURVEY §1.1), so the plan — and its 100 TB shape: one
    * session_id-keyed exchange for the ordered collect — is identical
    * to the DataFrame composition's; `array_sort(collect_list(
    * struct(ts, sku)))` is the declared ordered-ARRAY_AGG mapping of
    * `ARRAY_AGG(...) WITHIN GROUP (ORDER BY ...)`.
    *
    * PARAMETERIZED (round 11): the reference binds query parameters —
    * `%(api_key)s` and the date range in the metaflow extraction
    * (my_dbt_flow.py:234-252), `{{ var(...) }}` in the dbt models
    * (shopping_events_exploded.sql:10,26) — so the port target binds
    * them too, through `spark.sql(sqlText, args)` NAMED PARAMETER
    * MARKERS (`:api_key`, `:start_date`, `:end_date`), never string
    * interpolation: values travel as typed literals through Catalyst
    * (no injection, plan-cache-friendly). The markers live in the
    * final SELECT — where the reference's own extraction binds them —
    * over the unparameterized view stack. Defaults select everything,
    * keeping the declared query hash-identical to q55's oracle;
    * PipelineSpec pins that a changed binding changes the result.
    *
    * Catalog note: the two `CREATE OR REPLACE TEMPORARY VIEW`s are
    * deliberate session-catalog side effects — they ARE the dbt-model
    * surface being declared. Both are idempotent and name-stable, so
    * re-running the query (or racing it within a session) converges.
    */
  def q123SqlSessionEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String, apiKey: String = "k1", startDate: String = "1900-01-01",
      endDate: String = "2100-01-01"): DataFrame = {
    Tables.registerTempViews(spark, dir)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW shopping_events_exploded AS
        |SELECT CAST(user_id AS STRING) || '-' || date_format(ts, 'yyyy-MM-dd') AS session_id,
        |       'k1' AS api_key,
        |       CAST(ts AS DATE) AS session_date,
        |       unix_millis(ts) AS event_epoch_timestamp,
        |       'sku_' || CAST(event_id % 100 AS STRING) AS sku
        |FROM events""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW nep_session_events AS
        |SELECT session_id, api_key,
        |       min(session_date) AS session_date,
        |       array_join(transform(array_sort(collect_list(struct(event_epoch_timestamp, sku))),
        |                            x -> x.sku), '|') AS interactions
        |FROM shopping_events_exploded
        |GROUP BY session_id, api_key""".stripMargin)
    spark.sql(
      """SELECT session_id, api_key, session_date, interactions
        |FROM nep_session_events
        |WHERE api_key = :api_key
        |  AND session_date BETWEEN CAST(:start_date AS DATE)
        |                       AND CAST(:end_date AS DATE)
        |ORDER BY session_id""".stripMargin,
      Map("api_key" -> apiKey, "start_date" -> startDate,
        "end_date" -> endDate))
  }

  /** Per-stage counts from [[prepareCorpus]] — the audit record a
    * training run stores next to its data manifest.
    */
  case class CorpusReport(input: Long, afterExactDedup: Long,
      afterNearDedup: Long, afterQuality: Long, train: Long, holdout: Long,
      decontaminated: Long = 0L, paraDropped: Long = 0L,
      pplDropped: Long = 0L, dsirDropped: Long = 0L,
      quotaDropped: Long = 0L) {
    /** The report in manifest long format — the ONE (name, value)
      * layout every released manifest ships in (see
      * [[releaseArtifacts]]).
      */
    def counters: Seq[(String, Long)] = Seq(
      "input" -> input, "after_exact_dedup" -> afterExactDedup,
      "para_dropped" -> paraDropped, "after_near_dedup" -> afterNearDedup,
      "after_quality" -> afterQuality, "ppl_dropped" -> pplDropped,
      "dsir_dropped" -> dsirDropped, "decontaminated" -> decontaminated,
      "quota_dropped" -> quotaDropped, "train" -> train,
      "holdout" -> holdout)
  }

  /** The LLM-training-data preparation chain, composing the
    * north-star operators end to end over any (doc_id, text, ...)
    * corpus: exact dedup (content hash, min-id keeper) → optional
    * paragraph-level boilerplate strip (q86 semantics via
    * `paraDedupTokens`; `paraDropped` in the report counts DOCUMENTS
    * dropped because stripping emptied them — not paragraphs removed)
    * → transitive near-dup clustering (pair graph → connected
    * components, ONE canonical doc per cluster) → quality gate
    * (minimum length AND
    * the q77 repetition thresholds, both map-side) → optional
    * model-based filters in the CCNet order (after dedup + heuristic
    * cleanup): LM-perplexity gate (q100 — drop the `tail` bucket
    * under a unigram LM fit on `perplexityRef`) and DSIR importance
    * gate (q101 — drop docs below `dsirThresholdMicro` bits/token of
    * log target/raw weight against `dsirTarget`) → optional
    * decontamination against an external eval corpus (q81's shingle
    * overlap — drop any doc that would leak eval content into
    * training) → optional per-source quota (q105 — corpus balancing:
    * cap each source at its `sourceQuotaCap` best docs by the q103
    * quality integer; a corpus without a `source` column is one
    * synthetic domain, making the stage a global quality top-N)
    * → reproducible hash-gate train/holdout split (~90/10,
    * stable across runs, partitionings and retries — the q63 rule).
    * Returns the cleaned corpus (with `is_train`), pinned, plus
    * per-stage counts. Runs actions by design — the report IS the
    * product — but no action runs only to count: each stage boundary
    * is evaluated once, and every counter is a named Observation
    * carried by an eager pin the chain needs anyway (the exact-dedup
    * and paragraph pins, each enabled gate's input pin, the final
    * survivors' pin with its train count). See
    * [[ops.Sinks.observedPin]] for the two placement rules.
    *
    * Idempotent: re-running on its own output removes nothing (exact
    * keepers are unique; surviving canonicals are pairwise below the
    * near-dup threshold, else they would have shared a component;
    * quality, perplexity and contamination are per-doc deterministic
    * against external references). Exception: the DSIR gate fits its
    * RAW model on the surviving corpus itself, so a re-run rescores
    * under a shifted raw distribution and may drop more — monotone
    * shrinkage toward the target distribution, not an error.
    */
  def prepareCorpus(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, nearThreshold: Double = 0.5,
      minTokens: Int = 5, dupMilliMax: Int = 300, topMilliMax: Int = 200,
      evalDocs: Option[DataFrame] = None,
      contaminationMilli: Int = 100,
      exactNearDedup: Boolean = false,
      paraDedupTokens: Option[Int] = None,
      perplexityRef: Option[DataFrame] = None,
      pplHeadBits: Long = 4910000L, pplMidBits: Long = 4940000L,
      dsirTarget: Option[DataFrame] = None,
      dsirThresholdMicro: Long = -210000L,
      sourceQuotaCap: Option[Int] = None,
      nearLabelsCache: Option[String] = None): (DataFrame, CorpusReport) = {
    import ops.Sinks.{observed, observedCount, observedPin}
    // exact dedup as a per-content-hash window (min-id keeper), not a
    // self-join of `docs`: one pass whose input and keeper counts ride
    // its pin (the input count above the window's shuffle, in the
    // pin's own stage)
    val (windowed, oInput) = observed(docs.withColumn("__keeper",
      min("doc_id").over(Window.partitionBy(sha2(col("text"), 256)))))
    val (exactKept, oExact) = observedPin(windowed
      .filter(col("doc_id") === col("__keeper")).drop("__keeper"))
    // optional paragraph-level boilerplate strip (q86 semantics,
    // C4/RefinedWeb order: after exact doc dedup, before near-dedup —
    // stripping repeated paragraphs first makes near-dup similarity
    // reflect CONTENT, not shared boilerplate). Documents reduced to
    // nothing are dropped; others continue with their cleaned text.
    val (exact, oPara) = paraDedupTokens match {
      case Some(wTok) =>
        observedPin(exactKept.drop("text")
          .join(ops.LlmOps.dedupParagraphs(
              exactKept.select("doc_id", "text"), wTok)
            .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
          .filter(length(col("text")) > 0))
      case None => (exactKept, oExact)
    }
    // DEFAULT pair source is LSH (minhashPairsOf): candidate volume
    // linear in the corpus — the only shape that survives 100 TB.
    // LSH recall below ~J=0.6 is probabilistic (16 bands x 4 rows:
    // ~64% at J=0.5) but DETERMINISTIC per corpus, so idempotence is
    // unaffected: a missed pair is missed identically on the re-run.
    // exactNearDedup=true swaps in the exhaustive shingle-join pair
    // source (quadratic in hot shingles — small corpora only).
    def computeLabels(): DataFrame = {
      val pairs =
        if (exactNearDedup) ops.LlmOps.ngramJaccardPairsOf(exact, nearThreshold)
        else ops.LlmOps.minhashPairsOf(exact, nearThreshold)
      ops.Graph.connectedComponents(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .withColumnRenamed("node", "doc_id")
    }
    // `nearLabelsCache`: persisted memo path for the cluster labels —
    // the pair join + iterative CC dominate a bounded-corpus run and
    // are a pure function of (corpus state, threshold, para config),
    // so a caller whose memo key covers ALL of those (q125's does:
    // dir signature + bound + threshold + paraTokens) may persist
    // them with the q61 memo discipline (staged write, race-tolerant
    // install, losers read the winner's identical bytes). No key
    // input, no cache — the default recomputes.
    val labels = nearLabelsCache match {
      case None => computeLabels()
      case Some(memoPath) =>
        val fs = ops.Sinks.fsFor(spark, memoPath)
        val dst = new org.apache.hadoop.fs.Path(memoPath)
        if (!fs.exists(dst)) {
          val staging = new org.apache.hadoop.fs.Path(
            memoPath + "__tmp_" + spark.sparkContext.applicationId)
          fs.delete(staging, true)
          computeLabels().coalesce(1).write.mode("overwrite")
            .parquet(staging.toString)
          ops.Sinks.installMemo(fs, staging, dst)
        } else ops.Sinks.repairNestedStaging(fs, dst)
        spark.read.parquet(memoPath)
    }
    val (near, oNear) = observed(
      exact.join(labels, Seq("doc_id"), "left")
        .filter(col("component").isNull || col("component") === col("doc_id"))
        .drop("component"))
    val quality = ops.LlmOps.heuristicQualityGate(near, minTokens,
      dupMilliMax, topMilliMax)
    // model-based gates: both score (doc_id, lang, text) projections
    // of the current survivor set; a corpus without a lang column
    // scores under one synthetic domain (the models are lang-blind —
    // lang only rides along in the op outputs)
    def langOf(d: DataFrame) =
      if (d.columns.contains("lang")) col("lang") else lit("")
    val gates: Seq[Option[DataFrame => DataFrame]] = Seq(
      perplexityRef.map { ref =>
        val (lmTab, oovBits) = ops.LlmOps.fitUnigramLm(ref.select("text"), 4096)
        q => ops.LlmOps.lmTailGate(q, lmTab, oovBits, pplHeadBits, pplMidBits)
      },
      dsirTarget.map { target => q =>
        q.join(ops.LlmOps.importanceResample(
            q.select(col("doc_id"), langOf(q).as("lang"), col("text")),
            target.select("text"), dsirThresholdMicro)
          .filter(!col("kept")).select("doc_id"), Seq("doc_id"), "left_anti")
      },
      evalDocs.map { ev => q =>
        ops.LlmOps.decontaminationGate(q,
          ops.LlmOps.shingles(ev.select("doc_id", "text"))
            .select("shingle").distinct(),
          contaminationMilli)
      },
      sourceQuotaCap.map { cap => q =>
        val srcOf = if (q.columns.contains("source")) col("source") else lit("")
        q.join(
          ops.Retrieval.sourceQuotaOf(
              q.select(col("doc_id"), srcOf.as("source"), col("text")), cap)
            .select("doc_id"), "doc_id")
      })
    // every enabled gate reads its input twice (score, then join back),
    // so its input is pinned; that pin's job counts the input and
    // completes the upstream stage's observations
    val (survivors, gateIns) = gates.foldLeft(
        (quality, Vector.empty[Option[org.apache.spark.sql.Observation]])) {
      case ((cur, ins), None) => (cur, ins :+ None)
      case ((cur, ins), Some(gate)) =>
        val (q, o) = observedPin(cur)
        (gate(q), ins :+ Some(o))
    }
    val (cleaned, oFinal) = observedPin(
      survivors.withColumn("is_train",
        substring(md5(col("doc_id").cast("string")), 1, 2) < lit("e6")),
      count(when(col("is_train"), 1)).as("train"))
    val (nFinal, nTrain) = (observedCount(oFinal), observedCount(oFinal, "train"))
    // a gate drops (count entering it) − (count entering the next stage)
    val ins = gateIns.map(_.map(observedCount(_)))
    val entering = ins.scanRight(nFinal)((in, next) => in.getOrElse(next))
    val Seq(nPplDropped, nDsirDropped, nDropped, nQuotaDropped) =
      ins.indices.map(i => ins(i).fold(0L)(_ - entering(i + 1)))
    val nExact = observedCount(oExact)
    (cleaned, CorpusReport(observedCount(oInput), nExact, observedCount(oNear),
      nFinal, nTrain, nFinal - nTrain, nDropped, nExact - observedCount(oPara),
      nPplDropped, nDsirDropped, nQuotaDropped))
  }

  /** #125 The END-TO-END corpus-prep chain as ONE hash-gated query —
    * the north-star composition run the way the reference runs its
    * own end-to-end flow as one gated unit (my_dbt_flow.py:79-510 is
    * one flow, not a bag of steps; q60 gates that tensor chain, this
    * gates the LLM-corpus chain). [[prepareCorpus]] with every
    * integer-exact stage enabled under a deterministic config:
    *
    *   input (doc_id < `maxDocs`, the q61 exhaustive-pair bound)
    *   → q36 exact dedup (sha-256 content, min-id keeper)
    *   → q86 paragraph strip (20-token paras, global first
    *     occurrence; emptied docs dropped)
    *   → q40+q61 exact near-dup clustering on the CLEANED text
    *     (3-gram Jaccard ≥ 0.5 pairs → connected components) with the
    *     q99-family min-id resolution (component label == doc_id)
    *   → q77 heuristic quality gate (≥ 5 tokens, dup-bigram ≤ 300‰,
    *     top-token ≤ 200‰)
    *   → q100 LM-perplexity gate (unigram LM fit on the FULL corpus's
    *     src0 slice, micro-bit integer scoring, `tail` dropped)
    *   → q81 decontamination (3-shingle overlap ≥ 100‰ against the
    *     external eval slice doc_id % 13 == 0 of the full corpus)
    *   → q105 source quota (corpus balancing: each source capped at
    *     its 12 best docs by the q103 quality integer — integer-exact
    *     top-N, sized to provably BITE at every SF)
    *   → q63 deterministic train gate (md5 < 'e6')
    *   → q96 mixture over the train split's CLEANED token counts
    *     (frac 0.5, en 0.4 / other 0.15, md5-gate budget walk)
    *   → q102 shard + position assignment (8 shards, gate order).
    *
    * Every stage above is individually oracled (q36/q86/q61/q99/q77/
    * q100/q81/q105/q63/q96/q102 are all green driver rows), so the
    * COMPOSITION is oracle-able: the DuckDB twin is the stage CTEs
    * chained in this exact order. The iterative-float / hash-seeded
    * stages (q101 DSIR, q37 MinHash-LSH, q121's trained NB) are
    * deliberately OUT of this declared config — they have no exact
    * cross-engine twin and run in the production-shaped
    * [[releaseCorpus]]/[[prepareCorpus]] configs instead.
    *
    * OUTPUT is one relation carrying both products, the way a release
    * job ships a manifest next to its shards: per-doc rows
    * (kind='doc', name=lang, doc_id, shard, pos) for the final
    * mixture-kept train docs, and counter rows (kind='report',
    * name=stage, doc_id=-1, shard=-1, pos=count) for every
    * [[CorpusReport]] stage — the oracle hash thereby gates every
    * intermediate stage's CARDINALITY as well as the final keep set,
    * so a silent divergence anywhere in the chain moves some row.
    *
    * Scale shape: the composition inherits each stage's documented
    * plan (LSH would replace the exhaustive pair source at corpus
    * scale — `exactNearDedup=true` here is what makes the oracle
    * exact, the q61-vs-q75 trade); stage checkpoints bound replay;
    * the only driver traffic is the bounded report counts, the
    * mixture's ≤ 256·langs bucket sums and the shard ranker's
    * ≤ 8·256 offsets.
    *
    * Bench shape (the q114/q119 memo-clone rule): the prepared corpus
    * (chain output + counters) persists as a parameter-keyed memo
    * ([[ops.LlmOps.corpusPrepMemoPathOf]] — corpus signature + every
    * config knob), because the chain is a pure function of (corpus
    * state, declared config) and each of its stages already carries
    * its own bench line (q36/q86/q61/q77/q100/q81); re-running all of
    * them inside every timed round would re-pay measured costs. The
    * FIRST run on any corpus state — which is what the driver's
    * fresh-container correctness gate hashes — executes the full
    * chain; warm rounds time the split + mixture + shard tail.
    * PipelineSpec pins fresh-chain == memoized-run row identity.
    */
  def q125CorpusPipeline(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxDocs: Long = 5000): DataFrame = {
    import spark.implicits._
    val (cleaned, rep) = preparedCorpusCached(spark, dir, maxDocs)
    val (docRows, mixtureKept) = releaseTail(
      cleaned.select("doc_id", "lang", "text"))
    val reportRows = (reportCounters(rep) :+
        ("mixture_kept" -> mixtureKept))
      .map { case (n, v) => ("report", n, v) }
      .toDF("kind", "name", "pos")
      .select(col("kind"), col("name"), lit(-1L).as("doc_id"),
        lit(-1).cast("int").as("shard"), col("pos"))
    docRows.unionByName(reportRows).orderBy("kind", "name", "doc_id")
  }

  /** The q125 BACK HALF — deterministic train gate (the q63 md5 rule,
    * identical to [[prepareCorpus]]'s `is_train`) → q96 mixture budget
    * walk → q102 shard positions — factored to ONE definition shared
    * by [[q125CorpusPipeline]] and the streaming release tick
    * ([[ops.Streaming.corpusReleaseIngest]]), so "stream tick == q125
    * tail on the same survivors" is structural, not a convention two
    * copies must uphold. Input survivors: (doc_id, lang, text).
    * Returns the (kind='doc', name=lang, doc_id, shard, pos) rows and
    * the mixture's kept count. Every stage is a function of the FULL
    * relation — which is exactly why the streaming chain runs this at
    * release ticks over the accumulated sink, never per batch (the
    * [[ops.Streaming.corpusPrepBatch]] argument).
    */
  private[graft] def releaseTail(cleaned: DataFrame, nShards: Int = 8,
      frac: Double = 0.5, enWeight: Double = 0.4,
      otherWeight: Double = 0.15): (DataFrame, Long) = {
    val train = cleaned
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < lit("e6"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val (mixed, oMixed) = ops.Sinks.observedPin(ops.LlmOps.dataMixtureOf(
      train, frac = frac, enWeight = enWeight, otherWeight = otherWeight))
    (ops.Layout.shardPositionsOf(mixed.select("doc_id", "lang"), nShards)
      .select(lit("doc").as("kind"), col("lang").as("name"),
        col("doc_id").cast("long").as("doc_id"),
        col("shard").cast("int").as("shard"), col("pos")),
      ops.Sinks.observedCount(oMixed))
  }

  /** The q125 memo's stage counters as (name, count) pairs in the
    * memo's declared column order — ONE definition for q125's report
    * rows and q126's manifest read-back expectation.
    */
  private[graft] def reportCounters(
      rep: org.apache.spark.sql.Row): Seq[(String, Long)] =
    Seq("input", "after_exact_dedup", "para_dropped", "after_near_dedup",
      "ppl_dropped", "decontaminated", "quota_dropped", "final_kept",
      "train", "holdout")
      .map(n => n -> rep.getAs[Long](n))

  /** The q125-declared chain CONFIG run directly — the one
    * prepareCorpus parameterization q125/q126 declare, factored out
    * of [[preparedCorpusCached]] so the memo install and [[Bench]]'s
    * `cold_chain` record (round-12 verdict: the memo-riding
    * q125/q126 bench lines must never hide the fresh end-to-end
    * cost) run the IDENTICAL chain. `nearLabelsCache = None` is the
    * fully cold form — no prepared-corpus memo, no near-label memo:
    * what a first session on a new corpus state pays.
    */
  private[graft] def preparedCorpusFresh(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      maxDocs: Long = 5000,
      nearLabelsCache: Option[String] = None): (DataFrame, CorpusReport) = {
    val full = Tables.documents(spark, dir)
    // source rides the whole chain: the q105 quota stage groups by
    // it, and the released datacard (q126) reports per-domain stats
    val docs = full.filter(col("doc_id") < maxDocs)
      .select("doc_id", "lang", "source", "text")
    prepareCorpus(spark, docs,
      nearThreshold = 0.5, minTokens = 5, dupMilliMax = 300,
      topMilliMax = 200,
      evalDocs = Some(full.filter(col("doc_id") % 13 === 0)
        .select("doc_id", "text")),
      // 700‰, not q81's 100‰ default: this synthetic corpus is
      // template-heavy (the measured 3-shingle overlap of a typical
      // doc against the %13 eval slice sits at 400-600‰ at sf0.1),
      // so the leak threshold must sit ABOVE the template-
      // similarity mass to isolate genuine leaks — eval members and
      // their near-copies — instead of declaring the whole corpus
      // contaminated. On a real corpus the q81 default is the
      // starting point; the threshold is a config, not a constant.
      contaminationMilli = 700,
      exactNearDedup = true,
      paraDedupTokens = Some(20),
      perplexityRef = Some(full.filter(col("source") === "src0")
        .select("text")),
      nearLabelsCache = nearLabelsCache,
      // q105 corpus balancing ON the gated chain (round-12): cap
      // each source at its 12 best docs by the q103 quality integer
      // — integer-exact top-N, so the composed oracle carries it as
      // one more CTE. 12 sits just under the ~13-16 per-source
      // survivor count the upstream gates leave at every SF, so the
      // stage provably BITES (quota_dropped > 0 in the gated
      // report) rather than riding along idle.
      sourceQuotaCap = Some(12))
  }

  /** The q125-declared prepared corpus (cleaned relation + stage
    * counters), built once per (corpus state, config) into a
    * parameter-keyed persisted memo and read thereafter — the
    * q114/q119 memo-clone rule: the chain is a pure function of
    * (corpus state, this declared config), each of its stages
    * carries its own bench line (q36/q86/q61/q77/q100/q81), and the
    * memo key embeds the corpus signature + every config knob (the
    * cfgTag names this declaration), so a regenerated corpus or a
    * changed config rebuilds. The FIRST run on any corpus state
    * executes the full chain — which is exactly what a
    * fresh-container correctness check hashes. Shared by q125 (split +
    * mixture + shard tail) and q126 (release artifact + read-back):
    * both declare the SAME chain, so they must read the same bytes.
    */
  private[graft] def preparedCorpusCached(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      maxDocs: Long): (DataFrame, org.apache.spark.sql.Row) = {
    import spark.implicits._
    val memo = ops.LlmOps.corpusPrepMemoPathOf(spark, dir, maxDocs,
      "t500m5d300t200e13c700p20pplq12")
    val fs = ops.Sinks.fsFor(spark, memo)
    val dst = new org.apache.hadoop.fs.Path(memo)
    if (!fs.exists(dst)) {
      val (cleaned0, report) = preparedCorpusFresh(spark, dir, maxDocs,
        nearLabelsCache = Some(ops.LlmOps.corpusLabelsMemoPathOf(
          spark, dir, 0.5, maxDocs, 20, exactPairs = true)))
      val staging = new org.apache.hadoop.fs.Path(
        memo + "__tmp_" + spark.sparkContext.applicationId)
      fs.delete(staging, true)
      cleaned0.coalesce(1).write.mode("overwrite")
        .parquet(s"$staging/cleaned")
      Seq((report.input, report.afterExactDedup, report.paraDropped,
          report.afterNearDedup, report.pplDropped, report.decontaminated,
          report.quotaDropped, report.afterQuality, report.train,
          report.holdout))
        .toDF("input", "after_exact_dedup", "para_dropped",
          "after_near_dedup", "ppl_dropped", "decontaminated",
          "quota_dropped", "final_kept", "train", "holdout")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/report")
      ops.Sinks.installMemo(fs, staging, dst)
      ops.LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", dir,
        "documents")
      ops.LlmOps.gcStaleMemos(spark, "graft_corpus_prep_memo_", dir,
        "documents")
    } else ops.Sinks.repairNestedStaging(fs, dst)
    (spark.read.parquet(s"$memo/cleaned"),
      spark.read.parquet(s"$memo/report").head())
  }

  /** #126 Corpus RELEASE read-back — the shipped artifact under the
    * hash gate, the engine twin of the reference's artifact step
    * (model tar → object store, my_dbt_flow.py:463-476) with the
    * q02/q03 sink rule applied to the LAST ungated write path:
    * [[releaseArtifacts]] writes `train_shards/` + `holdout/` +
    * `datacard/` + `manifest/` from the q125-declared prepared
    * corpus (the SAME persisted memo — one chain, two declared
    * consumers), and the query's output is built ENTIRELY from
    * reading those files back:
    *
    *   kind='doc'      one row per train doc READ FROM ITS SHARD FILE
    *                   (name=lang, shard=the `__shard=K` partition it
    *                   landed in, pos=token count of the read-back
    *                   text) — gates shard assignment (the q102
    *                   md5-gate rule in [[ops.Sinks.exportShards]]),
    *                   membership, and the text/lang round-trip;
    *   kind='holdout'  the same for the holdout relation;
    *   kind='card'     the datacard read back, one row per
    *                   (lang, metric) — gates the q103 arithmetic
    *                   OVER THE RELEASED corpus;
    *   kind='manifest' the manifest counters read back — gates that
    *                   the audit record shipped next to the data
    *                   equals the chain's CorpusReport stage counts
    *                   (q125's report rows, plus n_shards).
    *
    * The DuckDB oracle recomputes all four families from the q125
    * stage CTEs, so any byte the release writers lose, duplicate or
    * misroute moves some row. The written release is app-scoped and
    * deleted after the result is localized (the q106 rule).
    */
  def q126CorpusRelease(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxDocs: Long = 5000, nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val (cleaned, rep) = preparedCorpusCached(spark, dir, maxDocs)
    val outPath = s"${System.getProperty("java.io.tmpdir")}/graft_q126_release_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      spark.sparkContext.applicationId
    val fs = ops.Sinks.fsFor(spark, outPath)
    fs.delete(new org.apache.hadoop.fs.Path(outPath), true)
    // a failed write or read-back must not orphan the release tree
    // under /tmp (the q106 no-leak rule — localizeAndDelete only
    // cleans up on the SUCCESS path); delete-and-rethrow keeps
    // repeated bench/probe retries from accumulating tmp state
    try releaseAndReadBack(spark, cleaned, reportCounters(rep), outPath,
      nShards)
    catch { case t: Throwable =>
      fs.delete(new org.apache.hadoop.fs.Path(outPath), true); throw t
    }
  }

  private def releaseAndReadBack(
      spark: org.apache.spark.sql.SparkSession, cleaned: DataFrame,
      counters: Seq[(String, Long)], outPath: String,
      nShards: Int): DataFrame = {
    releaseArtifacts(spark, cleaned, counters, outPath, nShards)
    // read-backs use EXPLICIT schemas: an all-dropped corpus writes a
    // _SUCCESS-only directory (an empty partitioned write emits no
    // data files), and schema inference would throw where the correct
    // answer is zero rows of the released shape
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType),
      StructField("__shard", IntegerType)))
    def docRows(path: String, kind: String, shardCol: Column) =
      spark.read.schema(docSchema).parquet(path)
        .select(lit(kind).as("kind"), col("lang").as("name"),
          col("doc_id").cast("long").as("doc_id"),
          shardCol.cast("int").as("shard"),
          size(split(col("text"), " ")).cast("long").as("pos"))
    val shardDocs =
      docRows(s"$outPath/train_shards", "doc", col("__shard"))
    val holdoutDocs = docRows(s"$outPath/holdout", "holdout", lit(-1))
    val cardBack = spark.read.schema(StructType(Seq(
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_docs", LongType), StructField("n_tokens", LongType),
        StructField("n_chars", LongType), StructField("dup_docs", LongType),
        StructField("quality_milli_sum", LongType))))
      .parquet(s"$outPath/datacard")
    val cardRows = Seq("n_docs", "n_tokens", "n_chars", "dup_docs",
        "quality_milli_sum").map { m =>
      cardBack.select(lit("card").as("kind"),
        concat(col("lang"), lit(":"), col("source"), lit("/" + m))
          .as("name"),
        lit(-1L).as("doc_id"), lit(-1).cast("int").as("shard"),
        col(m).cast("long").as("pos"))
    }.reduce(_.unionByName(_))
    val manifestRows = spark.read.parquet(s"$outPath/manifest")
      .select(lit("manifest").as("kind"), col("name"),
        lit(-1L).as("doc_id"), lit(-1).cast("int").as("shard"),
        col("value").cast("long").as("pos"))
    ops.Sinks.localizeAndDelete(spark,
      shardDocs.unionByName(holdoutDocs).unionByName(cardRows)
        .unionByName(manifestRows)
        .orderBy("kind", "name", "doc_id"),
      outPath)
  }

  /** Per-stage lineage export — the Catalyst answer to the
    * reference's dbt-manifest DAG render (my_dbt_flow.py:122-170).
    * Each stage name is paired with its optimized logical plan text;
    * because stages compose lazily, every stage's plan embeds its
    * upstream lineage, which IS the dependency DAG. (The split stage
    * runs its bounded per-date-count jobs on construction — a
    * diagnostic-time cost only.)
    */
  def explainStages(raw: DataFrame, apiKey: String, start: java.sql.Date,
      end: java.sql.Date): Seq[(String, String)] = {
    val exploded = explodeEvents(raw)
    val sessions = sessionEvents(exploded)
    val extracted = extractSessions(sessions, apiKey, start, end)
    Seq(
      "explode_events" -> exploded,
      "session_events" -> sessions,
      "extract_sessions" -> extracted,
      "train_test_split" -> trainTestSplit(extracted),
      "features" -> features(extracted)
    ).map { case (name, df) =>
      name -> df.queryExecution.optimizedPlan.treeString
    }
  }

  /** End-to-end corpus RELEASE — the capstone composition a training
    * run actually ships: [[prepareCorpus]] (with whatever gates the
    * caller enables) → deterministic hash-sharded train split written
    * as `train_shards/__shard=K/` directories in decorrelated
    * md5-gate order (the q102 epoch-shuffle rationale; one file per
    * shard dir via [[ops.Sinks.exportShards]]'s explicit-partition
    * write) → `holdout/` parquet → `datacard/` (the q103 per-domain
    * release statistics over the released corpus — integer-exact,
    * bit-reproducible) → `manifest/` (ONE row: every CorpusReport
    * stage count + shard/row totals — the audit record next to the
    * data). Everything written is a pure function of the input corpus
    * and the options: re-running the release reproduces every file's
    * contents (the q63/q102 determinism contract), so a retried
    * release job is idempotent by construction.
    *
    * A corpus without `lang`/`source` columns is released under one
    * synthetic domain (the [[prepareCorpus]] `langOf` rule).
    */
  def releaseCorpus(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, outPath: String, nShards: Int = 8,
      nearThreshold: Double = 0.5, minTokens: Int = 5,
      dupMilliMax: Int = 300, topMilliMax: Int = 200,
      evalDocs: Option[DataFrame] = None,
      perplexityRef: Option[DataFrame] = None,
      dsirTarget: Option[DataFrame] = None,
      paraDedupTokens: Option[Int] = None,
      sourceQuotaCap: Option[Int] = None): (CorpusReport, DataFrame) = {
    import spark.implicits._
    val (cleaned, report) = prepareCorpus(spark, docs,
      nearThreshold = nearThreshold, minTokens = minTokens,
      dupMilliMax = dupMilliMax, topMilliMax = topMilliMax,
      evalDocs = evalDocs, perplexityRef = perplexityRef,
      dsirTarget = dsirTarget, paraDedupTokens = paraDedupTokens,
      sourceQuotaCap = sourceQuotaCap)
    val card = releaseArtifacts(spark, cleaned, report.counters, outPath,
      nShards)
    (report, card)
  }

  /** The WRITE half of [[releaseCorpus]] — shards + holdout +
    * datacard + manifest from an already-prepared corpus. Split out
    * so q126 can drive the identical artifact writers over the
    * memoized q125 prepared corpus (the memo-clone bench rule: the
    * chain's cost is q125's line; this query's line is the release
    * write + read-back it declares). Returns the datacard relation.
    *
    * The manifest is BUILT here, not by callers: one schema — long
    * (name, value) rows, `n_shards` appended — whichever entry point
    * releases, so q126's read-back gate covers the exact layout
    * [[releaseCorpus]] ships (round-12 advice; previously q126 wrote
    * long rows while releaseCorpus wrote a wide single-row table
    * through the same writer).
    */
  private[graft] def releaseArtifacts(
      spark: org.apache.spark.sql.SparkSession, cleaned: DataFrame,
      counters: Seq[(String, Long)], outPath: String,
      nShards: Int): DataFrame = {
    import spark.implicits._
    val manifest = (counters :+ ("n_shards" -> nShards.toLong))
      .toDF("name", "value")
    def colOr(name: String) =
      (if (cleaned.columns.contains(name)) col(name) else lit("")).as(name)
    val train = cleaned.filter(col("is_train"))
      // decorrelated within-shard order: the md5 gate IS the epoch
      // shuffle (q102) — adjacent rows in a shard file come from
      // unrelated corpus positions, no RNG seed to lose
      .withColumn("__gate", md5(col("doc_id").cast("string")))
    ops.Sinks.exportShards(train, "doc_id", Seq("__gate", "doc_id"),
      nShards, s"$outPath/train_shards", dropCols = Seq("__gate"))
    cleaned.filter(!col("is_train"))
      .write.mode("overwrite").parquet(s"$outPath/holdout")
    val card = ops.LlmOps.datacardOf(
      cleaned.select(col("doc_id"), colOr("lang"), colOr("source"),
        col("text")))
    card.write.mode("overwrite").parquet(s"$outPath/datacard")
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$outPath/manifest")
    card
  }
}
