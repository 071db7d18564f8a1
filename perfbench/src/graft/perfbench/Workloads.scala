package graft.perfbench

import graft.{Pipeline, ScaleProbe, SparkEntry, Tables}
import graft.ops.{LlmOps, Retrieval, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation. `module` is the library module that owns the
  * call (it names the `ops.<module>_s` layer). `declared` names the
  * SparkEntry query an op runs, if any, so the oracle cross-check can
  * find its DuckDB SQL.
  */
final case class Op(name: String, module: String, declared: Option[String],
    run: Ctx => Digest.Of)

/** What an op sees: the session, its input dir, the pass's private
  * state dir and the tracing hooks. `dump` is set only when recording:
  * declared-query outputs are then written there for the oracle check.
  */
final case class Ctx(spark: SparkSession, data: String, passDir: String,
    h: Trace.Hooks, dump: Option[String])

/** A workload: seeded inputs in `setup`, then the fixed op list of one
  * pass. `prepare` gives a pass its fresh state, untimed.
  */
trait Workload {
  /** Input tables the workload's ops read; input bytes are summed over them. */
  def inputTables: Seq[String]
  def setup(spark: SparkSession, root: String): String
  def prepare(spark: SparkSession, data: String, passDir: String): String = data
  def ops: Seq[Op]
  /** Directory whose files count as the run's persisted state. */
  def stateRoot(passDir: String): String = s"$passDir/index"
  /** Query vectors per ANN probe request (0 where there are none). */
  def probeQueries: Int = 0
}

object Workloads {
  /** Inputs are drawn from one of this many recorded variants. */
  val Variants = 4

  final case class Seeds(seed: Long) {
    val variant: Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt
    /** Generator seed for the variant's tables, bindings and batches. */
    val data: Long = 7919L * (variant + 1)
  }

  /** Input sizes: `Full` is the benchmark, `Tiny` the self-test. */
  final case class Scale(sf: Double, corpusDocs: Long, baseDocs: Long,
      baseEmb: Long, replicas: Int)
  val Full = Scale(sf = 0.01, corpusDocs = 500, baseDocs = 500, baseEmb = 500, replicas = 4)
  val Tiny = Scale(sf = 0.001, corpusDocs = 120, baseDocs = 120, baseEmb = 120, replicas = 2)

  def apply(name: String, s: Seeds, sc: Scale): Workload = name match {
    case "ref_warehouse" => new RefWarehouse(s, sc)
    case "corpus_cold" => new CorpusCold(s, sc)
    case "index_lifecycle" => new IndexLifecycle(s, sc)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** An op that builds a DataFrame and digests it. Construction (with
    * any eager jobs it runs) is the `entry.build` span; the digest job
    * is `materialize`. `span`, if set, names a span around both, so it
    * covers the jobs that produce the result.
    */
  def frame(name: String, module: String, declared: Option[String] = None,
      span: Option[String] = None)(build: Ctx => DataFrame): Op =
    Op(name, module, declared, c => {
      def run = {
        val df = c.h.phase("build")(c.h.span("entry.build")(build(c)))
        for (d <- c.dump; q <- declared)
          df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
        c.h.phase("materialize")(c.h.span("materialize")(Digest.of(df)))
      }
      span.fold(run)(c.h.span(_)(run))
    })

  def declared(q: String, module: String): Op =
    frame(q, module, declared = Some(q))(c => SparkEntry.queries(q)(c.spark, c.data))

}

import Workloads._

/** The reference's own warehouse surface, read-only: the Pipeline
  * stages under a seeded binding, q123's parameterized SQL view stack,
  * the feature lines and the relational, scalar, window and
  * streaming-batch lines that own no index or memo.
  */
final class RefWarehouse(s: Seeds, sc: Scale) extends Workload {
  val inputTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings", "raw_log")

  def setup(spark: SparkSession, root: String): String = {
    val dir = s"$root/data"
    Gen.write(spark, dir, s.data, Gen.Sizes(sc.sf, sc.corpusDocs, sc.baseEmb), inputTables.toSet)
    dir
  }

  /** The variant's (api_key, date window) binding. */
  private val binding: (String, String, String) = {
    val r = new scala.util.Random(s.data)
    val start = 1 + r.nextInt(14)
    val len = 7 + r.nextInt(14)
    (s"k${1 + r.nextInt(4)}", f"2024-01-$start%02d", f"2024-01-${(start + len).min(30)}%02d")
  }

  private val declaredLines: Seq[(String, String)] =
    Seq("q00_flagship_sessionize", "q29_time_split", "q30_vocab_index",
      "q31_hit_rate_at_k", "q55_session_events_stateful", "q60_pipeline_tensors",
      "q124_vocab_decode").map(_ -> "features") ++
    Seq("q08_join_shuffle_multiway", "q11_agg_hash_groupby", "q17_window_rank_topk")
      .map(_ -> "relational") ++
    Seq("q24_json_extract_cast").map(_ -> "scalars") ++
    Seq("q32_tumbling_window_agg").map(_ -> "streaming")

  private def raw(c: Ctx) = Tables.table(c.spark, c.data, "raw_log")
  private def date(d: String) = java.sql.Date.valueOf(d)

  private def pipelineOps: Seq[Op] = {
    val (key, start, end) = binding
    val b = s"[$key,$start,$end]"
    val exploded = (c: Ctx) => Pipeline.explodeEvents(raw(c))
    val sessions = (c: Ctx) => Pipeline.sessionEvents(exploded(c))
    Seq(
      frame("pipeline.explode", "other")(exploded),
      frame("pipeline.sessions", "other")(sessions),
      frame(s"pipeline.extract$b", "other")(c =>
        Pipeline.extractSessions(sessions(c), key, date(start), date(end))),
      frame(s"pipeline.run$b", "other", span = Some("pipeline.ref_run"))(c =>
        Pipeline.run(raw(c), key, date(start), date(end))),
      frame(s"q123_sql_session_events[k1,$start,$end]", "other")(c =>
        Pipeline.q123SqlSessionEvents(c.spark, c.data, "k1", start, end)))
  }

  def ops: Seq[Op] =
    pipelineOps ++ declaredLines.map { case (q, m) => declared(q, m) }
}

/** A user's first run on a corpus: the prepared-corpus chain, the
  * release path and the memo-building LLM batch ops, every pass on a
  * fresh copy of the corpus under an empty index root, so every memo
  * misses.
  */
final class CorpusCold(s: Seeds, sc: Scale) extends Workload {
  val inputTables = Seq("documents")

  def setup(spark: SparkSession, root: String): String = {
    val dir = s"$root/data"
    Gen.write(spark, dir, s.data, Gen.Sizes(sc.sf, sc.corpusDocs, sc.baseEmb), inputTables.toSet)
    dir
  }

  /** A fresh path for the corpus makes every path-keyed memo and
    * in-process cache miss; a fresh index root holds no memo.
    */
  override def prepare(spark: SparkSession, data: String, passDir: String): String = {
    val dir = s"$passDir/data"
    Files.copyTree(new java.io.File(data), new java.io.File(dir))
    new java.io.File(stateRoot(passDir)).mkdirs()
    System.setProperty("graft.index.root", stateRoot(passDir))
    dir
  }

  private val batchOps: Seq[String] = Seq("q37_dedup_near_minhash",
    "q40_dedup_ngram_jaccard", "q121_quality_classifier",
    "q100_perplexity_filter", "q130_perplexity_trigram")

  /** q125's memo misses on every pass, so its construction runs the
    * fresh prepared-corpus chain (`Pipeline.preparedCorpusFresh`) and
    * installs the memo q126 then releases from.
    */
  def ops: Seq[Op] = Seq(
    frame("q125_corpus_pipeline", "other", declared = Some("q125_corpus_pipeline"),
      span = Some("pipeline.chain"))(c =>
      SparkEntry.queries("q125_corpus_pipeline")(c.spark, c.data)),
    frame("q126_corpus_release", "other", declared = Some("q126_corpus_release"),
      span = Some("pipeline.release"))(c =>
      SparkEntry.queries("q126_corpus_release")(c.spark, c.data))
  ) ++ batchOps.map(declared(_, "llmops"))
}

/** Writes beside reads on the persisted-state layer. Setup builds a
  * seeded, decorrelated `ScaleProbe.buildReplica` copy of the documents
  * and embeddings, splits it into two batches by a seeded hash, and
  * creates the BM25 and ANN indexes from batch 0. Creating them in setup
  * keeps the cold-JVM cost of the first index writes out of the timed
  * pass. A pass starts from a copy of those indexes, appends batch 1 to
  * both, then a hybrid top-k request (a BM25 probe and an ANN probe,
  * fused by reciprocal rank) reads the grown indexes. The pass ends by
  * taking a seeded id set down from both indexes and sealing the ANN
  * index, which applies the tombstones; a last ANN probe reads the
  * sealed state.
  */
final class IndexLifecycle(s: Seeds, sc: Scale) extends Workload {
  val inputTables = Seq("documents", "embeddings")

  // frames pinned in setup, shared read-only by every pass
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var seeded: String = _

  private def batchDocs(b: Int) = docs.filter(col("__b") === b).drop("__b")
  private def batchEmb(b: Int) = emb.filter(col("__b") === b).drop("__b")
  private def toks(d: DataFrame) = d.select(col("doc_id"), split(col("text"), " ").as("toks"))

  private def idx(c: Ctx, family: String) = s"${stateRoot(c.passDir)}/$family"

  /** Append batch `b` to the pass's two indexes. */
  private def ingest(b: Int): Seq[Op] = Seq(
    unit(s"bm25.append[$b]", "retrieval")(c => c.h.span("retrieval.bm25_append")(
      Retrieval.invIndexAppendBatch(toks(batchDocs(b)), idx(c, "bm25"), b.toLong))),
    unit(s"ann.append[$b]", "llmops")(c => c.h.span("llmops.ann_append")(
      LlmOps.annIndexAppendBatch(c.spark, batchEmb(b), idx(c, "ann"), b.toLong))))

  def setup(spark: SparkSession, root: String): String = {
    val base = s"$root/base"
    val dir = s"$root/data"
    // buildReplica copies the dimension tables too, so the base has them
    Gen.write(spark, base, s.data, Gen.Sizes(sc.sf, sc.baseDocs, sc.baseEmb),
      Set("region", "nation", "customer", "supplier", "part", "documents", "embeddings"))
    ScaleProbe.buildReplica(spark, base, dir, sc.replicas, tables = Set("documents", "embeddings"))
    // seeded batch assignment: about a third of the rows create, the rest append
    def assign(idCol: String) =
      (pmod(xxhash64(lit(s.data), col(idCol)), lit(3L)) > 0).cast("int")
    docs = Tables.documents(spark, dir).withColumn("__b", assign("doc_id")).localCheckpoint()
    emb = Tables.embeddings(spark, dir).withColumn("__b", assign("vec_id")).localCheckpoint()
    val seedPass = s"$root/seed"
    ingest(0).foreach(_.run(Ctx(spark, dir, seedPass, Trace.off, None)))
    seeded = stateRoot(seedPass)
    dir
  }

  override def prepare(spark: SparkSession, data: String, passDir: String): String = {
    Files.copyTree(new java.io.File(seeded), new java.io.File(stateRoot(passDir)))
    data
  }

  // probe requests: query ids drawn per variant from the whole replica
  private lazy val probeIds: Seq[Long] = {
    val r = new scala.util.Random(s.data + 17)
    val n = sc.baseDocs * sc.replicas
    Seq.fill(6)(r.nextLong(n)).distinct.map { i =>
      // ScaleProbe shifts replica i's ids by i * 1e9
      (i / sc.baseDocs) * 1000000000L + i % sc.baseDocs
    }
  }

  override def probeQueries: Int = probeIds.size

  private def queryTerms: DataFrame =
    docs.filter(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 4)).as("tok")).distinct()

  private def queryVecs: DataFrame =
    emb.filter(col("vec_id").isin(probeIds: _*)).select("vec_id", "embedding")

  private def annProbe(c: Ctx) =
    c.h.span("llmops.ann_probe")(LlmOps.annIncremental(c.spark, queryVecs, idx(c, "ann"),
      k = 10, nProbe = 4, excludeQueryId = false))

  private def bm25Probe(c: Ctx) =
    c.h.span("retrieval.bm25_probe")(Retrieval.bm25Indexed(c.spark, queryTerms, idx(c, "bm25"), k = 10))

  private def unit(name: String, module: String)(f: Ctx => Any): Op =
    Op(name, module, None, c => Digest.ofValue(f(c)))

  def ops: Seq[Op] =
    ingest(1) ++ Seq(
      frame("hybrid.probe[grown]", "retrieval")(c => Retrieval.rrfFuse(
        bm25Probe(c).select(col("query_id"), col("doc_id"), col("rank").as("lrank")),
        annProbe(c).select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk").as("drank")),
        10, 60)),
      // takedownTick also tombstones the survivors sink it is given; this
      // workload keeps no sink, so that path holds only the tombstones
      unit("takedown", "streaming") { c =>
        val ids = docs.filter(pmod(xxhash64(lit(s.data + 1), col("doc_id")), lit(10L)) === 3)
          .select("doc_id")
        c.h.span("streaming.takedown")(Streaming.takedownTick(c.spark, idx(c, "sink"), ids,
          invIndexPath = Some(idx(c, "bm25")), annIndexPath = Some(idx(c, "ann")),
          vecIds = Some(ids.select(col("doc_id").as("vec_id")))))
      },
      unit("ann.seal", "llmops")(c =>
        c.h.span("llmops.ann_seal")(LlmOps.annIndexSeal(c.spark, idx(c, "ann")))),
      frame("ann.probe[sealed]", "llmops")(annProbe))
}
