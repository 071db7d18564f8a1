package graft

import graft.ops.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Local BM25 recomputation (plain Scala loops over the collected
    * tiny corpus) with the same micro-round-then-integer-sum rule.
    */
  private def bruteBm25(texts: Map[Long, Array[String]],
      queries: Map[Long, Set[String]], k1: Double, b: Double,
      k: Int): Map[Long, Seq[(Long, Long)]] = {
    val n = texts.size.toLong
    val avgdl = texts.values.map(_.length.toLong).sum.toDouble / n
    val df = texts.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    def micro(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    queries.map { case (qid, terms) =>
      val scores = texts.toSeq.flatMap { case (docId, toks) =>
        val dl = toks.length.toLong
        val contribs = terms.toSeq.flatMap { t =>
          val tf = toks.count(_ == t).toLong
          if (tf == 0) None
          else {
            val idf = math.log((n.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            Some(micro(idf * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + (b * dl) / avgdl)) * 1000000.0))
          }
        }
        if (contribs.isEmpty) None else Some(docId -> contribs.sum)
      }
      qid -> scores.sortBy { case (d, s) => (-s, d) }.take(k)
    }
  }

  test("q104 BM25 == brute-force recomputation on the tiny corpus") {
    val texts = Tables.documents(spark, SharedSpark.sfTiny)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ") }.toMap
    val queries = texts.toSeq.filter(_._1 % 97 == 0).sortBy(_._1).take(8)
      .map { case (id, toks) => id -> toks.take(4).toSet }.toMap
    val expected = bruteBm25(texts, queries, k1 = 1.2, b = 0.75, k = 10)
    val got = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .select("query_id", "doc_id", "rank", "score_micro")
      .as[(Long, Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).toSeq).toMap
    assert(got.keySet === expected.keySet)
    for ((qid, exp) <- expected) {
      val g = got(qid)
      assert(g.map(r => (r._2, r._4)) === exp,
        s"query $qid top-k mismatch")
      assert(g.map(_._3) === (1 to g.size), s"query $qid ranks not dense")
    }
  }

  test("q104 returned docs each contain at least one query term; scores positive") {
    val texts = Tables.documents(spark, SharedSpark.sfTiny)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val queries = texts.toSeq.filter(_._1 % 97 == 0).sortBy(_._1).take(8)
      .map { case (id, _) => id ->
        Tables.documents(spark, SharedSpark.sfTiny)
          .filter(col("doc_id") === id).select("text")
          .as[String].head().split(" ").take(4).toSet }.toMap
    val rows = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (qid, docId, _, score) =>
      assert(score > 0, s"nonpositive score for ($qid, $docId)")
      assert(texts(docId).intersect(queries(qid)).nonEmpty,
        s"doc $docId shares no term with query $qid")
    }
  }

  test("q105 source quota == exact unsalted per-source top-cap") {
    val got = Retrieval.q105SourceQuota(spark, SharedSpark.sfTiny)
      .as[(Long, String, Long, Int)].collect().toSeq
    // exact recomputation: same quality integer, plain sort per source
    val stop = Set("the", "a", "of", "and", "in", "to")
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val expected = docs.map { case (id, src, text) =>
      val toks = text.split(" ")
      val nStop = toks.count(stop)
      val q = BigDecimal(
        math.min(toks.length.toDouble / 50.0, 1.0) *
          (1.0 - nStop.toDouble / toks.length) * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (id, src, q)
    }.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      rows.sortBy { case (id, _, q) => (-q, id) }.take(16)
        .zipWithIndex.map { case ((id, s, q), i) => (id, s, q, i + 1) }
    }.sortBy(r => (r._2, r._4))
    assert(got === expected)
    // the salted two-phase plan is an identity over the salt count
    val oneSalt = Retrieval.q105SourceQuota(spark, SharedSpark.sfTiny, salts = 1)
      .as[(Long, String, Long, Int)].collect().toSeq
    assert(got === oneSalt)
  }

  test("q106 indexed BM25 == q104; append-built index == single-build index") {
    val direct = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val indexed = Retrieval.q106Bm25Indexed(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(indexed === direct)
    // incremental build: two disjoint batches through append must
    // serve the identical ranking (df/stats are reconstructed, not
    // merged, so there is no merge step to get wrong)
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_inv_append").toString
    Retrieval.invIndexWrite(docs.filter(col("doc_id") % 2 === 0), idx)
    Retrieval.invIndexWrite(docs.filter(col("doc_id") % 2 === 1), idx,
      mode = "append")
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val appended = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(appended === direct)
  }

  test("q109 ingest-built index == q104; batch replay is idempotent") {
    val direct = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val ingested = Retrieval.q109Bm25IngestBatch(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(ingested === direct)
    // replay: re-appending an already-written batch (at-least-once
    // delivery) must rewrite its own stamped partitions, not
    // duplicate postings — probe answer unchanged
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_inv_replay").toString
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx, 0L)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") >= 250), idx, 1L)
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val before = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx, 0L)
    val after = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(after === before)
    assert(before === direct)
  }

  test("q116 sealed-index BM25 == q104 (compaction moves no answers)") {
    // q109's ingest + invIndexSeal + probe of the SEALED index: the
    // seal is a pure relayout, so the probe must still serve q104's
    // exact rows — the declared q116 equality the driver hash-gates
    val direct = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val viaSeal = Retrieval.q116Bm25Sealed(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(viaSeal.nonEmpty)
    assert(viaSeal === direct)
  }

  test("q129 index deletion: tombstone == compacted == rebuild-without-deleted; replay masked; idempotent") {
    val res = Retrieval.q129IndexDelete(spark, SharedSpark.sfTiny)
      .as[(String, Long, Int, Long, Double)].collect().toSeq
    val byKind = res.groupBy(_._1)
    def strip(rows: Seq[(String, Long, Int, Long, Double)]) =
      rows.map(r => (r._2, r._3, r._4, r._5)).sorted
    // merge-on-read (tombstone) probe == physically-compacted probe
    assert(byKind.keySet === Set("bm25_tomb", "bm25_compact", "ann_tomb", "ann_compact"))
    assert(byKind("bm25_tomb").nonEmpty && byKind("ann_tomb").nonEmpty)
    assert(strip(byKind("bm25_tomb")) === strip(byKind("bm25_compact")))
    assert(strip(byKind("ann_tomb")) === strip(byKind("ann_compact")))
    // no deleted id may surface as a result
    assert(res.forall(r => r._4 % 5 != 2))
    // rebuild-without-deleted: a FRESH index over only the survivors
    // must serve the identical BM25 answer (N/avgdl/df all shifted)
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_q129_rebuild").toString
    Retrieval.invIndexWrite(docs.filter(pmod(col("doc_id"), lit(5)) =!= 2), idx)
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(5)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val rebuilt = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
      .map(r => (r._1, r._3, r._2, r._4.toDouble)).sorted
    assert(strip(byKind("bm25_tomb")) === rebuilt)
    // stamped index: a deleted doc's REPLAYED batch stays masked by
    // the tombstone; re-delete records nothing; seal compacts the
    // tombstones away and the answer never moves
    val idx2 = java.nio.file.Files
      .createTempDirectory("graft_q129_stamped").toString
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx2, 0L)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") >= 250), idx2, 1L)
    val delIds = docs.select("doc_id").filter(pmod(col("doc_id"), lit(5)) === 2)
    val n1 = Retrieval.invIndexDelete(spark, idx2, delIds)
    assert(n1 > 0L)
    val tomb = Retrieval.bm25Indexed(spark, queries, idx2)
      .as[(Long, Long, Int, Long)].collect().toSeq
      .map(r => (r._1, r._3, r._2, r._4.toDouble)).sorted
    assert(tomb === rebuilt)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx2, 0L)
    assert(Retrieval.invIndexDelete(spark, idx2, delIds) === 0L)
    val replayed = Retrieval.bm25Indexed(spark, queries, idx2)
      .as[(Long, Long, Int, Long)].collect().toSeq
      .map(r => (r._1, r._3, r._2, r._4.toDouble)).sorted
    assert(replayed === rebuilt)
    Retrieval.invIndexSeal(spark, idx2)
    val fs = graft.ops.Sinks.fsFor(spark, idx2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx2/deletes")))
    val sealedRows = Retrieval.bm25Indexed(spark, queries, idx2)
      .as[(Long, Long, Int, Long)].collect().toSeq
      .map(r => (r._1, r._3, r._2, r._4.toDouble)).sorted
    assert(sealedRows === rebuilt)
  }

  test("a missing index ROOT fails loud on the postings-reading paths, not silently empty") {
    // round-15 advice: tolerating PATH_NOT_FOUND on probe-side reads
    // turns a mistyped/unmounted indexPath into empty results; the
    // missing-path tolerance belongs to merge-on-read sinks only.
    // (A postings-less EXISTING root — emptied index — stays None.)
    val ids = spark.range(3).select(col("id").as("doc_id"))
    val ex = intercept[IllegalArgumentException] {
      Retrieval.invIndexDelete(spark,
        s"${System.getProperty("java.io.tmpdir")}/graft_no_such_index_xyz",
        ids)
    }
    assert(ex.getMessage.contains("index root not found"))
    // the lease taken for the failed delete is released, not orphaned
    assert(!new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_no_such_index_xyz__lease")
      .exists)
  }

  test("delete-BEFORE-ingest: a NULL-dl tombstone still corrects N/avgdl once the doc lands") {
    // the round-13 medium finding: a doc tombstoned while ABSENT from
    // the index carries dl=NULL; when a late/replayed batch appends it
    // afterwards, its postings are anti-joined out but its stats row
    // still counts — probe and apply must re-resolve dl from current
    // postings or tombstone/compacted answers diverge from
    // rebuild-without-deleted in exactly this ordering
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(5)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val delIds = docs.select("doc_id").filter(pmod(col("doc_id"), lit(5)) === 2)
    // rebuild-without-deleted ground truth over the FULL corpus
    val ref = java.nio.file.Files
      .createTempDirectory("graft_del_before_ref").toString
    Retrieval.invIndexWrite(docs.filter(pmod(col("doc_id"), lit(5)) =!= 2), ref)
    val rebuilt = Retrieval.bm25Indexed(spark, queries, ref)
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    // batch 0 ingested, WHOLE delete set tombstoned (ids >= 250 are
    // absent -> NULL dl), THEN batch 1 lands
    val idx = java.nio.file.Files
      .createTempDirectory("graft_del_before_idx").toString
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 250), idx, 0L)
    assert(Retrieval.invIndexDelete(spark, idx, delIds) > 0L)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") >= 250), idx, 1L)
    val tomb = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    assert(tomb === rebuilt)
    // physical apply must bake the SAME corrected stats in
    assert(Retrieval.invIndexApplyDeletes(spark, idx))
    val compacted = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    assert(compacted === rebuilt)
  }

  test("q108 hybrid RRF == local fusion of brute BM25 and brute cosine lists") {
    val texts = Tables.documents(spark, SharedSpark.sfTiny)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ") }.toMap
    val vecs = Tables.embeddings(spark, SharedSpark.sfTiny)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val qids = texts.keys.filter(_ % 97 == 0).toSeq.sorted.take(8)
    val queries = qids.map(id => id -> texts(id).take(4).toSet).toMap
    val lex = bruteBm25(texts, queries, 1.2, 0.75, 10)
      .view.mapValues(_.map(_._1).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      val r = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val den = qids.filter(vecs.contains).map { q =>
      q -> vecs.toSeq.map { case (id, v) => id -> cos(vecs(q), v) }
        .sortBy { case (id, c) => (-c, id) }.take(10)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    }.toMap
    def term(rank: Int): Long =
      BigDecimal(1000000.0 / (60 + rank))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = qids.flatMap { q =>
      val l = lex.getOrElse(q, Map.empty[Long, Int])
      val dn = den.getOrElse(q, Map.empty[Long, Int])
      (l.keySet ++ dn.keySet).toSeq.map { d =>
        (q, d, l.get(d).map(term).getOrElse(0L) + dn.get(d).map(term).getOrElse(0L))
      }.sortBy { case (_, d, s) => (-s, d) }.take(10)
        .zipWithIndex.map { case ((qq, d, s), i) => (qq, d, s, i + 1) }
    }.sortBy(r => (r._1, r._4))
    val got = Retrieval.q108HybridRrf(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got === expected)
    // both legs must actually contribute: some fused row carries two
    // terms (a doc ranked by both systems), some exactly one
    assert(got.exists(_._3 > term(1)), "no doc was ranked by both systems")
    assert(got.exists(r => r._3 <= term(1)), "no one-sided doc survived fusion")
  }

  test("q108 indexed dense leg: fused output row-identical to the brute-force leg") {
    // exhaustive probe of the persisted PQ index (nProbe = nCells,
    // lossless candFactor — the q111 argument): the dense rank lists
    // equal the brute scan's, so fusion, being rank-only, must emit
    // exactly q108HybridRrf's rows
    val brute = Retrieval.q108HybridRrf(spark, SharedSpark.sfTiny)
      .collect().map(_.toString).toSeq
    val indexed = Retrieval.q108HybridRrfIndexed(spark, SharedSpark.sfTiny)
      .collect().map(_.toString).toSeq
    assert(indexed.nonEmpty)
    assert(indexed === brute)
  }

  test("q106 probe scans only the query terms' bucket partitions") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_inv_prune").toString
    Retrieval.invIndexWrite(docs, idx)
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val buckets = queries
      .select(pmod(xxhash64(col("tok")), lit(64)).as("tb"))
      .distinct().as[Long].collect().toSet
    assert(buckets.size < 64, "fixture degenerate: queries cover every bucket")
    val pruned = spark.read.parquet(s"$idx/postings")
      .filter(col("tb").isin(buckets.toSeq: _*))
    pruned.collect()
    // the post-execution scan metric counts files actually read —
    // must equal the files under the selected bucket dirs and be a
    // strict subset of the index
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap {
        case d if d.isDirectory => parquetFiles(d)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Seq.empty
      }
    val allFiles = parquetFiles(new java.io.File(s"$idx/postings")).size
    val selectedFiles = buckets.toSeq
      .map(b => parquetFiles(new java.io.File(s"$idx/postings/tb=$b")).size).sum
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val read = scan.metrics("numFiles").value
    assert(read === selectedFiles.toLong,
      s"scan read $read files, selected buckets hold $selectedFiles")
    assert(selectedFiles < allFiles,
      s"fixture degenerate: every file is in a probed bucket")
  }

  test("bm25Indexed reads the hash modulus from the index, not its parameter") {
    // build with a deliberately NON-default bucket count and probe:
    // before round 11 the probe hashed query terms with ITS OWN
    // default (64) against a 7-bucket layout and silently returned
    // incomplete results; now the n_buckets stats column is the only
    // authority for the modulus and the probe takes no bucket
    // parameter at all.
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_inv_nbuckets").toString
    Retrieval.invIndexWrite(docs, idx, nBuckets = 7)
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val direct = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val probed = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(probed === direct)
    // one index, one modulus: an append that disagrees on n_buckets
    // must abort AT WRITE TIME, before any bytes land — a read-time
    // poison pill would brick every later probe of the index
    intercept[IllegalArgumentException] {
      Retrieval.invIndexWrite(docs.limit(0), idx, nBuckets = 13,
        mode = "append")
    }
    intercept[IllegalArgumentException] {
      Retrieval.invIndexAppendBatch(docs.limit(0), idx, 9L, nBuckets = 13)
    }
    // the refused writes left the index untouched and probeable
    assert(Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq === direct)
    // same-modulus appends still pass the guard
    Retrieval.invIndexWrite(docs.limit(0), idx, nBuckets = 7,
      mode = "append")
    assert(Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq === direct)
  }

  test("append guard survives cross-writer seal and overwrite rebuild (pin hygiene)") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // (a) a pinned stamped writer must still notice a seal performed
    // by ANOTHER writer (whose invIndexSeal cleared only ITS OWN
    // JVM-local pins): earn the stamped pin, flatten the layout via
    // the raw seal primitive — the other JVM's footprint — and the
    // next stamped append must abort instead of nesting a stamped
    // directory depth under the flat one (round-11 advice)
    val idxA = java.nio.file.Files
      .createTempDirectory("graft_inv_pinseal").toString
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") < 100), idxA, 0L)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") >= 100 &&
      col("doc_id") < 200), idxA, 1L) // second append rides the pin
    graft.ops.Sinks.sealBatchStamped(spark, s"$idxA/postings", Some("tb"))
    graft.ops.Sinks.sealBatchStamped(spark, s"$idxA/stats", None)
    intercept[IllegalArgumentException] {
      Retrieval.invIndexAppendBatch(
        docs.filter(col("doc_id") >= 200), idxA, 2L)
    }
    // the sealed index remains flat-appendable and probeable
    Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 200), idxA,
      mode = "append")
    val q = docs.filter(col("doc_id") % 97 === 0).orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok")).distinct()
    assert(Retrieval.bm25Indexed(spark, q, idxA).count() > 0)
    // (b) in-JVM overwrite rebuild with a NEW bucket count retires
    // the old pin: an append at the rebuilt count must pass, one at
    // the pinned old count must abort (pre-round-12 the stale pin did
    // exactly the reverse)
    val idxB = java.nio.file.Files
      .createTempDirectory("graft_inv_pinrebuild").toString
    Retrieval.invIndexWrite(docs.filter(col("doc_id") < 100), idxB,
      nBuckets = 64)
    Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 100 &&
      col("doc_id") < 200), idxB, nBuckets = 64, mode = "append") // pin 64
    Retrieval.invIndexWrite(docs.filter(col("doc_id") < 100), idxB,
      nBuckets = 7) // rebuild under a different modulus
    Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 100 &&
      col("doc_id") < 200), idxB, nBuckets = 7, mode = "append")
    intercept[IllegalArgumentException] {
      Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 200), idxB,
        nBuckets = 64, mode = "append")
    }
    assert(Retrieval.bm25Indexed(spark, q, idxB).count() > 0)
    // (c) CROSS-JVM rebuild: this JVM holds a live pin at 64 (earned
    // above via invIndexAppendBatch is a different path — earn a
    // FLAT pin here), then ANOTHER writer rebuilds the index at 13
    // by hand (raw Spark writes + the sentinel the real writer
    // maintains — this JVM's pins survive, exactly the round-12
    // review scenario: same layout, different modulus). The pinned
    // append at 64 must abort via the sentinel the guard reads from
    // its per-append listing, never via the pin it would have ridden.
    val idxC = java.nio.file.Files
      .createTempDirectory("graft_inv_pincrossjvm").toString
    Retrieval.invIndexWrite(docs.filter(col("doc_id") < 100), idxC,
      nBuckets = 64)
    Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 100 &&
      col("doc_id") < 200), idxC, nBuckets = 64, mode = "append") // pin 64
    // the other JVM's footprint: flat stats at modulus 13 + sentinel
    val fsC = graft.ops.Sinks.fsFor(spark, idxC)
    fsC.delete(new org.apache.hadoop.fs.Path(s"$idxC/stats"), true)
    Seq((100L, 5000L, 13)).toDF("n_docs", "total_tokens", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$idxC/stats")
    fsC.create(new org.apache.hadoop.fs.Path(s"$idxC/stats/__nb_13"),
      true).close()
    intercept[IllegalArgumentException] {
      Retrieval.invIndexWrite(docs.filter(col("doc_id") >= 200), idxC,
        nBuckets = 64, mode = "append")
    }
  }

  test("format epoch: stats recording no or two hash moduli are refused loudly, files untouched") {
    // an index's stats rows are its one record of the hash modulus;
    // one whose rows record none (written before the column existed)
    // or two cannot be probed or extended correctly, so every reader
    // and writer refuses it with a "rebuild the index" error and
    // leaves every file where it was
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val root = java.nio.file.Files.createTempDirectory("graft_inv_epoch").toString
    val flat = s"$root/flat"
    val stamped = s"$root/stamped"
    Retrieval.invIndexWrite(docs, flat, nBuckets = 8)
    assert(Retrieval.invIndexDelete(spark, flat,
      docs.select("doc_id").filter(col("doc_id") % 5 === 2)) > 0L)
    Retrieval.invIndexAppendBatch(docs, stamped, 0L, nBuckets = 8)
    val fs = graft.ops.Sinks.fsFor(spark, root)
    // every file under the test root (both indexes and their
    // siblings: leases, park and tmp dirs) with its length and mtime
    def snapshot(): Seq[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
    }
    // hand-written stats replace the real ones, with no sentinel, so
    // the append guard has to read the rows
    def writeStats(idx: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val st = s"$idx/stats"
      fs.delete(new org.apache.hadoop.fs.Path(st), true)
      if (idx == stamped)
        rows.withColumn("__batch_id", lit(0L)).coalesce(1).write
          .partitionBy("__batch_id").parquet(st)
      else rows.coalesce(1).write.parquet(st)
    }
    def refused(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("rebuild the index"), e.getMessage)
    }
    val defects = Seq(
      "no modulus" -> Seq((250L, 5000L)).toDF("n_docs", "total_tokens"),
      "two moduli" -> Seq((250L, 5000L, 64), (250L, 5000L, 7))
        .toDF("n_docs", "total_tokens", "n_buckets"))
    for ((defect, rows) <- defects) {
      Seq(flat, stamped).foreach(writeStats(_, rows))
      val before = snapshot()
      withClue(defect) {
        refused(Retrieval.bm25Indexed(spark, queries, flat).collect())
        refused(Retrieval.invIndexWrite(docs.limit(0), flat, nBuckets = 8,
          mode = "append"))
        refused(Retrieval.invIndexAppendBatch(docs.limit(0), stamped, 1L,
          nBuckets = 8))
        refused(Retrieval.invIndexApplyDeletes(spark, flat))
        assert(snapshot() === before)
      }
    }
  }

  test("concurrent first stamped appends pass the guard; a missing sentinel is rebuilt, never read as no modulus") {
    val docs = Tables.documents(spark, SharedSpark.sfTiny)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .orderBy("doc_id").limit(8)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, 4)).as("tok"))
      .distinct()
    val direct = Retrieval.q104Bm25TopK(spark, SharedSpark.sfTiny)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_inv_first").toString
    val fs = graft.ops.Sinks.fsFor(spark, root)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // the q109 shape: N first appends into a brand-new path from
    // concurrent driver threads under ONE lease (8 buckets keep the
    // file count small)
    val idx = s"$root/idx"
    graft.ops.Sinks.withWriterLease(spark, idx, "inv-index-append") {
      graft.ops.Sinks.awaitAllOrThrow((0 until 4).map { b =>
        graft.ops.Sinks.bFuture {
          Retrieval.invIndexAppendBatchHeld(
            docs.filter(col("doc_id") % 4 === b), idx, b.toLong, nBuckets = 8)
        }
      })
    }
    def probe() = Retrieval.bm25Indexed(spark, queries, idx)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(probe() === direct)
    // a first append that lists a sibling's in-flight write (its
    // hidden staging dir, no stats row and no sentinel yet) sees no
    // layout and passes
    val idx2 = s"$root/idx2"
    fs.mkdirs(path(s"$idx2/stats/.spark-staging-inflight"))
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") % 4 === 0), idx2, 0L,
      nBuckets = 8)
    // the sentinel is only a cache: without it the guard reads the
    // recorded modulus from the stats rows — a replayed batch passes
    // and the sentinel is back; a wrong modulus is still refused
    val nb8 = path(s"$idx/stats/__nb_8")
    fs.delete(nb8, false)
    Retrieval.invIndexAppendBatch(docs.filter(col("doc_id") % 4 === 0), idx, 0L,
      nBuckets = 8)
    assert(fs.exists(nb8))
    fs.delete(nb8, false)
    val e = intercept[IllegalArgumentException] {
      Retrieval.invIndexAppendBatch(docs.limit(0), idx, 9L, nBuckets = 13)
    }
    assert(e.getMessage.contains("hashed with 8 buckets"), e.getMessage)
    assert(probe() === direct)
  }
}
