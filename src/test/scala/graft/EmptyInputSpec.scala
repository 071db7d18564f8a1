package graft

import org.scalatest.funsuite.AnyFunSuite

/** Robustness sweep: every declared query must run (not necessarily
  * return rows) against a corpus of EMPTY tables — at lake scale an
  * empty day, partition, or split is routine input, and an operator
  * that throws on it (schema inference over a file-less sink dir,
  * k-means over zero vectors, a typed expression over a zero-length
  * centroid array) takes down a whole pipeline run. This sweep is
  * what caught q03/q49/annIncremental in round 5.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def materialize(dst: String, emptied: Set[String]): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      val src = spark.read.parquet(s"${SharedSpark.sfTiny}/$t.parquet")
      (if (emptied(t)) src.limit(0) else src)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  private def sweep(dst: String,
      queries: Iterable[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try { fn(spark, dst).count(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }.toSeq

  test("every declared query runs on all-empty tables") {
    val dst = java.nio.file.Files.createTempDirectory("graft_empty").toString
    materialize(dst, emptied = tables.toSet)
    val failures = sweep(dst, SparkEntry.queries)
    assert(failures.isEmpty, s"queries failing on empty input:\n${failures.mkString("\n")}")
    // and no query leaves its per-run scratch behind
    val key = dst.replaceAll("[^a-zA-Z0-9]", "_")
    val app = spark.sparkContext.applicationId
    val leaked = Seq(graft.ops.Sinks.indexRoot,
        System.getProperty("java.io.tmpdir").stripSuffix("/")).distinct
      .flatMap(r => Option(new java.io.File(r).list()).getOrElse(Array.empty[String]))
      .filter(n => n.contains(key) && n.endsWith(s"_$app"))
    assert(leaked.isEmpty, s"per-run scratch left behind: ${leaked.mkString(", ")}")
  }

  test("mixed-table queries survive ONE empty side (docs without embeddings and vice versa)") {
    // the all-empty sweep can mask one-sided failures: q108's fusion,
    // the ANN family's trainers and q110's item universe each read a
    // table the OTHER tables don't — an empty day for just one feed
    // is routine at lake scale and must degrade, not throw
    val mixed = SparkEntry.queries.filter { case (name, _) =>
      Set("q38_similarity_topk", "q42_dedup_embedding_cosine",
        "q43_simsearch_lsh_ann", "q49_simsearch_ivf", "q70_embedding_centroids",
        "q82_simsearch_quantized", "q91_simsearch_pq", "q92_simsearch_ivfpq",
        "q93_simsearch_ivfpq_residual", "q97_dedup_semantic",
        "q104_bm25_topk", "q106_bm25_indexed", "q107_dim_reduction",
        "q108_hybrid_rrf", "q109_bm25_ingest_batch", "q110_negative_sampling",
        "q111_simsearch_indexed", "q113_simsearch_ingest_batch").contains(name)
    }
    // self-checking coverage: a renamed/typo'd registry key must fail
    // here, not silently drop a query from the sweep
    assert(mixed.size === 18, s"mixed-table set drifted: ${mixed.keys.toSeq.sorted}")
    val noEmb = java.nio.file.Files.createTempDirectory("graft_noemb").toString
    materialize(noEmb, emptied = Set("embeddings"))
    val f1 = sweep(noEmb, mixed)
    assert(f1.isEmpty, s"queries failing with empty embeddings:\n${f1.mkString("\n")}")
    val noDocs = java.nio.file.Files.createTempDirectory("graft_nodocs").toString
    materialize(noDocs, emptied = Set("documents", "events"))
    val f2 = sweep(noDocs, mixed)
    assert(f2.isEmpty, s"queries failing with empty documents/events:\n${f2.mkString("\n")}")
  }
}
