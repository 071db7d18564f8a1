package graft

import graft.ops.LlmOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental-index cost benchmark — the claim under test is the
  * whole POINT of the persisted indexes: per-batch cost stays flat as
  * the index grows, because a batch only pays for itself plus its
  * collisions/probed cells, never for history. Splits the corpus into
  * equal batches, seeds each index from batch 0, then per batch:
  * probe (dedupIncremental / annIncremental) + append. Prints one
  * JSON line with per-batch seconds; a cost that CLIMBS with index
  * size here falsifies the 100 TB design argument.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchIncremental"
  */
object BenchIncremental {
  def main(args: Array[String]): Unit = {
    Bench.quietLogs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nBatches = 4
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Noise canaries (the Bench rule): identical fixed work timed
    // before and after the measured section — a reader can discount a
    // record whose canaries are inflated (episodic multi-minute host
    // stalls are a measured phenomenon on this VM, BASELINE.md).
    def canary(): Double =
      timed(spark.range(50000000L).agg(sum(col("id"))).collect())
    val work = java.nio.file.Files.createTempDirectory("graft_bench_incr").toString
    // untimed warmup first: the very first job pays codegen/classload
    // (~3 s measured) and would read as a false stall in canaryBefore
    canary()
    val canaryBefore = canary()

    // -- LSH dedup index: batch = doc_id mod nBatches ----------------
    val docs = Tables.documents(spark, sfDir)
      .withColumn("__b", pmod(col("doc_id"), lit(nBatches.toLong)))
      .localCheckpoint()
    val dedupIdx = s"$work/dedup_idx"
    LlmOps.dedupIndexWrite(docs.filter(col("__b") === 0).drop("__b"), dedupIdx)
    val dedupTimes = (1 until nBatches).map { b =>
      val batch = docs.filter(col("__b") === b).drop("__b")
      timed {
        LlmOps.dedupIncremental(spark, batch, dedupIdx).count()
        LlmOps.dedupIndexWrite(batch, dedupIdx, "append")
      }
    }

    // -- IVF ANN index: batch = vec_id mod nBatches ------------------
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("__b", pmod(col("vec_id"), lit(nBatches.toLong)))
      .localCheckpoint()
    val annIdx = s"$work/ann_idx"
    LlmOps.annIndexWrite(spark, emb.filter(col("__b") === 0).drop("__b"), annIdx)
    val annTimes = (1 until nBatches).map { b =>
      val batch = emb.filter(col("__b") === b).drop("__b")
      timed {
        LlmOps.annIncremental(spark, batch.limit(50), annIdx).count()
        LlmOps.annIndexWrite(spark, batch, annIdx, mode = "append")
      }
    }

    // -- streaming corpus-prep chain: the q125 stage sequence as a
    // continuous ingest (Streaming.corpusPrepBatch — paragraph strip
    // + LSH admission against BOTH growing persisted indexes, then
    // the three stateless gates under pre-fit artifacts). Batch 0
    // seeds both indexes untimed; batches 1..n-1 are the series a
    // capacity planner wants: per-micro-batch seconds as the para
    // AND dedup indexes accumulate all prior history.
    val cpDocs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text")
      .withColumn("__b", pmod(col("doc_id"), lit(nBatches.toLong)))
      .localCheckpoint()
    val (cpLm, cpOov) = LlmOps.fitUnigramLm(
      cpDocs.filter(col("source") === "src0").select("text"), 4096)
    val cpEval = LlmOps.shingles(
        cpDocs.filter(col("doc_id") % 13 === 0).select("doc_id", "text"))
      .select("shingle").distinct().localCheckpoint()
    val cpRoot = s"$work/corpus_prep"
    def cpBatch(b: Int): org.apache.spark.sql.DataFrame =
      graft.ops.Streaming.corpusPrepBatch(
        cpDocs.filter(col("__b") === b).drop("__b", "source"), b.toLong,
        cpRoot, cpLm, cpOov, cpEval, nearThreshold = 0.5, paraTokens = 20,
        minTokens = 5, dupMilliMax = 300, topMilliMax = 200,
        pplHeadBits = 4910000L, pplMidBits = 4940000L,
        contaminationMilli = 700)
    // survivors sink + release root for the TICK series below (the
    // corpusReleaseIngest layout; sink writes ride untimed so the
    // corpus_prep series stays comparable across rounds)
    val cpSink = s"$work/corpus_sink"
    val cpRel = s"$work/corpus_release"
    def sinkWrite(kept: org.apache.spark.sql.DataFrame, b: Int): Unit =
      if (!kept.isEmpty)
        kept.withColumn("__batch_id", lit(b.toLong))
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch_id").parquet(cpSink)
    sinkWrite(cpBatch(0), 0) // seed both persisted indexes untimed
    // -- release tick: the q125 back half (train gate → mixture →
    // shard) re-evaluated over the ACCUMULATED survivors sink and
    // committed via the q128 manifest flip — the periodic release a
    // continuous pipeline pays (Streaming.corpusReleaseIngest's tick).
    // Unlike the prep series, the tick is a function of the FULL
    // accumulated relation by declaration, so its honest cost model
    // is linear in |survivors|, NOT flat — the series documents that
    // slope rather than hiding it.
    val cpPairs = (1 until nBatches).map { b =>
      var kept: org.apache.spark.sql.DataFrame = null
      val prep = timed { kept = cpBatch(b); kept.count() }
      sinkWrite(kept, b)
      val tick = timed {
        graft.ops.Streaming.releaseTick(spark, cpSink, cpRel)
      }
      (prep, tick)
    }
    val corpusPrepTimes = cpPairs.map(_._1)
    val releaseTickTimes = cpPairs.map(_._2)

    // -- mid-stream takedown: the deletion path a live deployment
    // pays (Streaming.takedownTick over both corpus-chain index
    // families + the survivors sink, then the masked release, then
    // the physical sink compaction) — measured so "streaming deletes
    // don't drop to batch" has a number attached
    val tdIds = cpDocs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select("doc_id")
    val takedownSec = timed {
      graft.ops.Streaming.takedownTick(spark, cpSink, tdIds,
        paraIndexPath = Some(s"$cpRoot/para"),
        dedupIndexPath = Some(s"$cpRoot/dedup"))
    }
    val takedownReleaseSec = timed {
      graft.ops.Streaming.releaseTick(spark, cpSink, cpRel)
    }
    val takedownApplySec = timed {
      graft.ops.Streaming.applySinkDeletes(spark, cpSink)
    }

    // -- quiesce-time seal cost: a batch-STAMPED twin of the ANN
    // index (the streaming-ingest layout) collapsed to flat — the
    // one-off compaction a quiesced stream pays, measured so the
    // small-file answer has a number attached
    val stampedIdx = s"$work/ann_idx_stamped"
    (0 until nBatches).foreach { b =>
      LlmOps.annIndexAppendBatch(spark,
        emb.filter(col("__b") === b).drop("__b"), stampedIdx, b.toLong)
    }
    val sealSec = timed(LlmOps.annIndexSeal(spark, stampedIdx))

    def arr(xs: Seq[Double]) =
      xs.map("%.3f".formatLocal(java.util.Locale.ROOT, _)).mkString("[", ",", "]")
    // flatness ratio: last batch vs first — the index behind the last
    // batch is (nBatches-1)x larger than behind the first, so a ratio
    // near 1 demonstrates history-independent cost
    def ratio(xs: Seq[Double]) =
      "%.2f".formatLocal(java.util.Locale.ROOT, xs.last / xs.head)
    // at-rest footprint of the PQ probe column vs the float vectors it
    // stands in for (round-7 layout): the probe scans codes/, vectors/
    // is only touched per-finalist — this ratio is the scan-byte cut
    val fs = graft.ops.Sinks.fsFor(spark, annIdx)
    def dirBytes(p: String): Long =
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    val codesBytes = dirBytes(s"$annIdx/codes")
    val vectorBytes = dirBytes(s"$annIdx/vectors")
    val canaryAfter = canary()
    def fmt(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = s"""{"metric":"incremental_batch_sec","batches":${nBatches - 1},""" +
      s""""dedup":${arr(dedupTimes)},"dedup_last_over_first":${ratio(dedupTimes)},""" +
      s""""ann":${arr(annTimes)},"ann_last_over_first":${ratio(annTimes)},""" +
      s""""corpus_prep":${arr(corpusPrepTimes)},"corpus_prep_last_over_first":${ratio(corpusPrepTimes)},""" +
      s""""release_tick":${arr(releaseTickTimes)},"release_tick_last_over_first":${ratio(releaseTickTimes)},""" +
      s""""ann_codes_bytes":$codesBytes,"ann_vectors_bytes":$vectorBytes,""" +
      s""""ann_seal_sec":${"%.3f".formatLocal(java.util.Locale.ROOT, sealSec)},""" +
      s""""takedown_sec":${fmt(takedownSec)},"takedown_release_sec":${fmt(takedownReleaseSec)},""" +
      s""""takedown_apply_sec":${fmt(takedownApplySec)},""" +
      s""""canary":[${fmt(canaryBefore)},${fmt(canaryAfter)}],"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_incremental.json"), json + "\n")
    println(json)
    // the work dir holds a full LSH + IVF/PQ index per run — delete
    // it once the record is written (repeated
    // bench passes would otherwise accumulate unbounded /tmp state)
    graft.ops.Sinks.fsFor(spark, work)
      .delete(new org.apache.hadoop.fs.Path(work), true)
    spark.stop()
  }
}
