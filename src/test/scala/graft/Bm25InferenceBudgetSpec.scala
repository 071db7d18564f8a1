package graft

import graft.ops.{LlmOps, Retrieval, Sinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Budget: the BM25 index lifecycle reads its persisted relations with
  * declared schemas, so it runs no schema-inference job from
  * `Retrieval.scala`. An inferring `spark.read.parquet` costs one Spark
  * job per read (ROADMAP item 1), and a relation whose files disagree
  * would be read with whichever footer Spark opened.
  *
  * A schema-inference job is a job outside any SQL execution whose
  * call site is a `parquet at <file>:<line>` read and which is not one
  * of Spark's leaf-file listing jobs (those carry a "Listing leaf
  * files" description; a declared-schema read of a many-bucket
  * postings dir still pays them).
  *
  * The seal runs after the apply that flattened the index, so
  * `Sinks.sealBatchStamped` decides "nothing to seal" from its
  * directory listing and reads nothing. Any inferring read, in
  * Retrieval.scala or in a shared helper it calls (such as
  * `Sinks.readParquetIfAny`), fails the spec. One deliberate inferring
  * read of a file the spec wrote is the positive control: the census
  * must see exactly that one, which shows the predicate matches.
  */
class Bm25InferenceBudgetSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def inference(j: JobCensus.Job): Boolean =
    j.root.isEmpty && j.site.matches("""parquet at \S+\.scala:\d+""") &&
      !j.description.exists(_.startsWith("Listing leaf files"))

  test("BM25 write/append/probe/delete/apply/seal/append: no schema-inference job in Retrieval.scala") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint()
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct().localCheckpoint()
    val ids = docs.select("doc_id").filter(col("doc_id") % 5 === 2)
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_budget").toString
    val flat = s"$root/flat"
    val idx = s"$root/stamped"
    val fs = Sinks.fsFor(spark, root)
    val control = s"$root/control"
    spark.range(1).write.parquet(control)
    // 8 buckets, not the default 64: a tenth of the files, same reads
    val nb = 8
    val c = JobCensus.census(spark) {
      Retrieval.invIndexWrite(docs, flat, nb)
      Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx, 0L, nb)
      Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") >= 250), idx, 1L, nb)
      Retrieval.bm25Indexed(spark, queries, idx).collect()
      Retrieval.invIndexDelete(spark, idx, ids)
      Retrieval.bm25Indexed(spark, queries, idx).collect()
      Retrieval.invIndexApplyDeletes(spark, idx)
      Retrieval.invIndexSeal(spark, idx)
      // without its sentinel the flat append's guard reads the stats
      // rows (the cache-rebuild read), so that read is budgeted too
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats/__nb_$nb"), false)
      Retrieval.invIndexWrite(docs.limit(0), idx, nb, mode = "append")
      spark.read.parquet(control)
    }
    val (retrieval, other) = c.jobs.filter(inference)
      .partition(_.site.contains(" at Retrieval.scala:"))
    assert(retrieval.isEmpty,
      s"schema-inference jobs in Retrieval.scala:\n${retrieval.mkString("\n")}")
    assert(other.map(_.site.replaceAll(""":\d+$""", "")) ===
      Seq("parquet at Bm25InferenceBudgetSpec.scala"), other.mkString("\n"))
  }

  test("ANN delete/apply/seal: five inference jobs, none in a checked read-back") {
    val emb = Tables.embeddings(spark, SharedSpark.sfTiny)
      .filter(col("vec_id") < 128)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_budget")
      .resolve("ann").toString
    (0 until 2).foreach(b => LlmOps.annIndexAppendBatch(spark,
      emb.filter(col("vec_id") % 2 === b), idx, b.toLong, nCells = 4))
    val c = JobCensus.census(spark) {
      LlmOps.annIndexDelete(spark, idx, emb.select("vec_id")
        .filter(col("vec_id") % 5 === 2))
      LlmOps.annIndexSeal(spark, idx)
    }
    // the source reads that remain infer (ROADMAP item 1 owes them):
    // - `Sinks.readParquetIfAny` of vectors/ and codes/ in the apply;
    // - the apply's centroids/ cardinality read (LlmOps.scala);
    // - the seal's source read of vectors/ and codes/.
    // The four checked read-backs (two apply, two seal) infer nothing.
    val sites = c.jobs.filter(inference)
      .map(_.site.replaceAll(""":\d+$""", "")).sorted
    assert(sites === Seq("parquet at LlmOps.scala") ++
      Seq.fill(4)("parquet at Sinks.scala"), sites.mkString("\n"))
  }
}
