package graft.ops

import graft.Tables
import graft.functions.{BpeCountPieces, BpeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained-merge byte-pair encoding over the corpus — the real
  * tokenizer behind token budgets (retires q46's declared
  * ceil(len/4) piece heuristic as the budget source; q46 itself
  * stays, its heuristic is a declared oracled semantics).
  *
  * Split of labor mirrors production tokenizer training (public
  * algorithm: Sennrich, Haddow, Birch 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"):
  *
  *  1. FIT, distributed prefix: word frequencies are one map-side-
  *     partial `groupBy(word).count` shuffle over the corpus, then
  *     `orderBy(cnt desc, word).limit(vocabCap)` — Spark executes
  *     that as TakeOrdered (per-partition top-V, driver merge), so
  *     driver traffic is bounded by vocabCap at ANY corpus size.
  *  2. FIT, driver suffix: classic BPE merge learning runs on the
  *     word-FREQUENCY table (the algorithm's native input — it never
  *     needed the raw corpus), O(vocabCap · wordLen · nMerges).
  *     Capping to the top-V words is the standard sampling step every
  *     production tokenizer trainer does (they train on a corpus
  *     sample; frequency-cap is the sharper version of that).
  *  3. ENCODE, distributed: the fitted merge list rides to executors
  *     as a codegen reference object ([[graft.functions.BpeTable]]);
  *     counting is one expression call per document inside the scan's
  *     WholeStageCodegen span — zero extra shuffles, zero UDFs.
  */
object Bpe {

  /** Classic BPE merge learning on a word-frequency table.
    * Deterministic: ties on pair frequency break toward the
    * lexicographically smallest (a, b); pairs seen fewer than
    * `minPairFreq` times stop the loop (merging a once-seen pair
    * memorizes noise). Pair occurrences are counted at every adjacent
    * position; merging is left-to-right non-overlapping — the same
    * rule [[BpeTable.encode]] applies, so train and encode agree.
    */
  def fitMerges(wordFreqs: Seq[(String, Long)], nMerges: Int,
      minPairFreq: Long = 2L): Seq[(String, String)] = {
    // each word as a mutable symbol buffer (code points), with freq
    val words: Array[(scala.collection.mutable.ArrayBuffer[String], Long)] =
      wordFreqs.map { case (w, f) =>
        val buf = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          buf += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        (buf, f)
      }.toArray
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continue = true
    while (continue && merges.size < nMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) continue = false
      else {
        val (best, bestCount) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (bestCount < minPairFreq) continue = false
        else {
          merges += best
          for (wi <- words.indices) {
            val (syms, f) = words(wi)
            if (syms.length >= 2) {
              val next = scala.collection.mutable.ArrayBuffer[String]()
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                  next += syms(j) + syms(j + 1); j += 2
                } else { next += syms(j); j += 1 }
              }
              words(wi) = (next, f)
            }
          }
        }
      }
    }
    merges.toSeq
  }

  /** Fit-once cache: the fit is deterministic in (corpus dir,
    * nMerges, vocabCap), so q85 and q88 — and any user composition of
    * count + pack — share ONE fitted table per key instead of each
    * refitting identical merges (which doubled BPE training cost per
    * bench pass). Entries are merge tables (KBs each); the key space
    * is the handful of (dir, params) combos a session touches, same
    * lifetime story as Spark's own bucketed-table catalog cache. A
    * corpus dir is assumed immutable for the JVM's lifetime; a caller
    * that rewrites one in place retires its fits through
    * [[LlmOps.invalidateMemosFor]].
    */
  private[ops] val fitCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), BpeTable]()

  /** Number of full distributed fits actually run (cache misses) —
    * the spec hook proving the fit-once contract.
    */
  val fitRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  def fitCached(spark: SparkSession, dir: String,
      nMerges: Int, vocabCap: Int): BpeTable =
    fitCache.computeIfAbsent((dir, nMerges, vocabCap),
      _ => fit(Tables.documents(spark, dir), nMerges, vocabCap))

  /** Persist a fitted merge table as a tiny rank-ordered parquet
    * artifact — the production tokenizer story: train ONCE, ship the
    * artifact, every later job (any session, any cluster) loads it
    * instead of refitting. [[fitCache]] is the within-JVM tier of the
    * same contract; this is the cross-session tier. The artifact is
    * KBs (nMerges rows of two short strings), so single-file.
    */
  def saveTable(spark: SparkSession, table: BpeTable, path: String): Unit =
    spark.createDataFrame(
        table.merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) })
      .toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a [[saveTable]] artifact. Rank order restores merge
    * priority exactly, so encode output is bit-identical to the
    * fitting session's.
    */
  def loadTable(spark: SparkSession, path: String): BpeTable =
    new BpeTable(spark.read.parquet(path).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Distributed fit: corpus → word frequencies (one shuffle, partial
    * aggregation) → bounded top-`vocabCap` collect → driver merge
    * learning. Returns the broadcast-ready table. Uncached — declared
    * queries go through [[fitCached]].
    */
  def fit(docs: DataFrame, nMerges: Int = 200, vocabCap: Int = 4096): BpeTable = {
    fitRuns.incrementAndGet()
    val wf = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    new BpeTable(fitMerges(wf, nMerges))
  }

  /** #85 Real BPE token counting: fit merges on THIS corpus, then
    * count per-document pieces under the trained encoder, next to the
    * whitespace token count. This is the number a training-data
    * pipeline actually budgets by (q46's ceil(len/4) heuristic is the
    * oracled approximation; this is the real thing). No SQL oracle —
    * iterative merge encoding is not expressible in DuckDB SQL — so
    * the driver records rows-only and BpeSpec carries semantics
    * (known-merge fixture, piece-concatenation identity, heuristic
    * degradation bounds).
    */
  def q85TokenCountBpeTrained(spark: SparkSession, dir: String,
      nMerges: Int = 200, vocabCap: Int = 4096): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val table = fitCached(spark, dir, nMerges, vocabCap)
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_ws_tokens"),
        BpeCountPieces.count(col("toks"), table).as("n_pieces_bpe"))
      .orderBy("doc_id")
  }

  /** #88 Sequence packing on TRAINED-BPE piece counts: q80's declared
    * packing semantics (shard-partitioned greedy fill, see
    * [[LlmOps.packSequences]]) with the real tokenizer's counts as
    * the budget unit — the combination an actual pretrain data loader
    * runs. Spec-covered (the count column is BPE, hence no SQL
    * oracle): BpeSpec recomputes the expected (bin, offset)
    * assignment from q85's counts locally and asserts equality.
    */
  def q88SequencePackingBpe(spark: SparkSession, dir: String,
      capacity: Int = 512, nShards: Int = 8,
      nMerges: Int = 200, vocabCap: Int = 4096): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val table = fitCached(spark, dir, nMerges, vocabCap)
    val counted = docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards.toLong)).cast("int").as("shard"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("shard"),
        BpeCountPieces.count(col("toks"), table).as("n_tokens"))
    LlmOps.packSequences(counted, capacity).orderBy("doc_id")
  }
}
