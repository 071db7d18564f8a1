package graft

import graft.ops.LlmOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline ops without a DuckDB oracle: verify the approximate /
  * hash-seeded variants against their exact twins on sf0.001.
  */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  val sf = SharedSpark.sfTiny

  /** Brute-force exact Jaccard pairs (no candidate pruning) — the
    * ground truth for the LSH variants.
    */
  private def bruteForcePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = LlmOps.shingles(Tables.documents(spark, sf))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    LlmOps.jaccardOf(pairs, sh).filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("q37 MinHash-LSH finds exactly the true near-dup pairs at J>=0.8") {
    val truth = bruteForcePairs(0.8)
    val got = LlmOps.q37DedupNearMinhash(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    // exact-Jaccard verification makes precision 1.0; banded MinHash at
    // 16x4 has >99.9% recall at J>=0.8 — require full recall here.
    assert(got === truth)
  }

  test("q41 SimHash: shuffled token-multiset duplicates collide at hamming 0") {
    val fpPairs = LlmOps.q41DedupSimhash(spark, sf).cache()
    // the corpus plants token-shuffle near-dups (same multiset) — they
    // must appear with hamming 0
    assert(fpPairs.filter(col("hamming") === 0).count() > 0)
    assert(fpPairs.filter(col("hamming") > 3).count() === 0)
  }

  test("q138 portable SimHash: shuffled dups collide at hamming 0; pigeonhole output == brute force") {
    // same laws as q41 on the engine-portable md5 signature — this is
    // the oracle-able twin, so its Spark-side pigeonhole must equal a
    // brute-force enumeration exactly (the oracle brute-forces)
    val pairs = LlmOps.q138DedupSimhashExact(spark, sf).cache()
    assert(pairs.filter(col("hamming") === 0).count() > 0)
    assert(pairs.filter(col("hamming") > 3).count() === 0)
    // brute force over the same portable fingerprints: a tiny planted
    // fixture (shuffle = same multiset -> identical signature; one
    // flipped token -> small hamming)
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zeta epsilon delta gamma beta alpha"), // shuffle of 1
      (3L, "alpha beta gamma delta epsilon eta"), // one token off
      (4L, "totally different content words here entirely")
    ).toDF("doc_id", "text")
    val got = LlmOps.simhashPortablePairsOf(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0)), got) // multiset identity
    // determinism
    val again = LlmOps.simhashPortablePairsOf(docs, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === again)
  }

  test("q139 per-lang LM: a lang absent from the reference is 'unmodeled', never scored under another lang's model") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog", "src0"),
      (2L, "en", "the quick brown fox naps all day long today", "src1"),
      (3L, "xx", "zzz yyy www vvv uuu ttt sss rrr qqq", "src1") // no xx reference
    ).toDF("doc_id", "lang", "text", "source")
    val r = LlmOps.perLangPerplexityOf(docs, col("source") === "src0",
        vocabCap = 4096, headBits = 4943000L, midBits = 5006000L)
      .select("doc_id", "lang", "bits_micro", "ppl_bucket")
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId(3L)._4 === "unmodeled" && byId(3L)._3 === -1L, byId(3L))
    assert(byId(1L)._4 != "unmodeled" && byId(1L)._3 > 0, byId(1L))
    assert(byId(2L)._4 != "unmodeled" && byId(2L)._3 > 0, byId(2L))
    // the reference doc scores strictly better (fewer bits/token)
    // than the OOV-heavy sibling under the SAME lang model
    assert(byId(1L)._3.toDouble / 9 < byId(2L)._3.toDouble / 9)
    // declared query: deterministic, one row per doc
    val a = LlmOps.q139PerplexityPerLang(spark, sf).collect().map(_.toString).toSeq
    val b = LlmOps.q139PerplexityPerLang(spark, sf).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("q41 SimHash: block-combination scheme is output-invariant in nBlocks") {
    // pigeonhole completeness + the exact bit_count filter mean the
    // wide-key corpus-scale scheme (6 blocks -> C(6,3)=20 keys of
    // ~30 bits) finds exactly the same pairs as the default 4x16-bit
    val a = LlmOps.q41DedupSimhash(spark, sf).collect().map(_.toString).toSet
    val b = LlmOps.q41DedupSimhash(spark, sf, nBlocks = 6).collect().map(_.toString).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("q43 lshPlanesFor bounds expected bucket population at any corpus size") {
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L, 100000000000L)) {
      val p = LlmOps.lshPlanesFor(n, targetBucket = 256L)
      assert(p >= 4, s"n=$n planes=$p below floor")
      assert(p <= 62, s"n=$n planes=$p absurd")
      // 2^p buckets x 256 target >= n  =>  expected bucket <= target
      assert(math.pow(2.0, p) * 256.0 >= n.toDouble, s"n=$n planes=$p under-bucketed")
    }
    // monotone: more corpus never means fewer planes
    val ps = Seq(1000L, 1000000L, 1000000000L).map(LlmOps.lshPlanesFor(_))
    assert(ps === ps.sorted)
  }

  test("q91 PQ: hand-computed encode fixture, ADC decomposition, recall + exact-cos overlap vs q38") {
    // fixture: 2 subspaces × 2 centroids × 2 dims; vector picks
    // centroid 1 in subspace 0 (closer to (1,1)) and 0 in subspace 1
    val cb = new graft.functions.Pq.Codebooks(2, 2, 2,
      Array(0f, 0f, 1f, 1f, /* m=0: c0=(0,0) c1=(1,1) */
        5f, 5f, -5f, -5f /* m=1: c0=(5,5) c1=(-5,-5) */))
    val vec = Seq(0.9f, 1.1f, 4f, 6f)
    val df = Seq((1L, vec)).toDF("vec_id", "embedding")
    val code = df.select(graft.functions.PqEncode.codes(col("embedding"), cb))
      .as[Int].head()
    assert(code === ((0 << 4) | 1)) // subspace0 -> centroid 1, subspace1 -> centroid 0
    // ADC against a hand-built table equals the decomposed dot product
    val table = Array(10f, 20f, 30f, 40f) // [m0k0, m0k1, m1k0, m1k1]
    val adc = Seq((code, table.toSeq)).toDF("c", "t")
      .select(graft.functions.PqAdc.ip(col("c"), col("t"), 2, 2)).as[Double].head()
    assert(adc === (20.0 + 30.0))
    // reconstruction norm² = |c(0,1)|² + |c(1,0)|² = 2 + 50
    val n = Seq(code).toDF("c")
      .select(graft.functions.PqReconNormSq.normSq(col("c"), cb)).as[Double].head()
    assert(math.abs(n - 52.0) < 1e-9)

    val pq = LlmOps.q91SimsearchPq(spark, sf).cache()
    val brute = LlmOps.q38SimilarityTopk(spark, sf).cache()
    val a = pq.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val b = brute.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val overlap = a.map(t => (t._1, t._2)).toSet.intersect(b.map(t => (t._1, t._2)).toSet)
    // 16 centroids/subspace on synthetic 64-dim: conservative floor
    assert(overlap.size * 10 >= b.length * 3,
      s"PQ overlap ${overlap.size}/${b.length} below 30%")
    // exact rerank ⇒ cosines identical on shared pairs
    val bm = b.map(t => (t._1, t._2) -> t._3).toMap
    a.foreach { case (q, nb, c) => bm.get((q, nb)).foreach(e => assert(c === e)) }
    // determinism
    assert(LlmOps.q91SimsearchPq(spark, sf).collect().map(_.toString).toSeq ===
      pq.collect().map(_.toString).toSeq)
  }

  test("q92 IVF-PQ: cell-pruned ADC candidates, exact-cos overlap vs q38, bounded by q91's scan") {
    val ivfpq = LlmOps.q92SimsearchIvfPq(spark, sf).cache()
    val brute = LlmOps.q38SimilarityTopk(spark, sf).cache()
    val a = ivfpq.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val b = brute.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(a.nonEmpty)
    val overlap = a.map(t => (t._1, t._2)).toSet.intersect(b.map(t => (t._1, t._2)).toSet)
    // nProbe=4 of 16 cells on top of PQ: conservative floor 20%
    assert(overlap.size * 10 >= b.length * 2,
      s"IVF-PQ overlap ${overlap.size}/${b.length} below 20%")
    // exact rerank ⇒ identical cosines on shared pairs
    val bm = b.map(t => (t._1, t._2) -> t._3).toMap
    a.foreach { case (q, nb, c) => bm.get((q, nb)).foreach(e => assert(c === e)) }
    assert(LlmOps.q92SimsearchIvfPq(spark, sf).collect().map(_.toString).toSeq ===
      ivfpq.collect().map(_.toString).toSeq)
  }

  test("q93 residual IVF-PQ: hand-fixture reconstruction identities; recall >= q92 at equal params") {
    // fixture: q91's 2 subspaces × 2 centroids × 2 dims codebooks now
    // hold RESIDUAL centroids; cell centroid c and query q are known,
    // and the candidate's residual r̂ is EXACTLY cbR(0,1)+cbR(1,0), so
    // the decomposed formulas must reproduce <q, c+r̂> and |c+r̂|²
    val cb = new graft.functions.Pq.Codebooks(2, 2, 2,
      Array(0f, 0f, 1f, 1f, 5f, 5f, -5f, -5f))
    val c = Array(2f, 3f, 4f, 5f)
    val q = Array(1f, 2f, 3f, 4f)
    val code = (0 << 4) | 1 // subspace0 -> centroid 1, subspace1 -> centroid 0
    val rhat = Array(1f, 1f, 5f, 5f)
    val xhat = c.zip(rhat).map { case (a, b) => a + b }
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    // production-shaped tables: adc from q, cross-term table from c
    def subTable(v: Array[Float]): Seq[Float] =
      (for (mi <- 0 until 2; ki <- 0 until 2) yield {
        (0 until 2).map(d => v(mi * 2 + d).toDouble * cb.centroid(mi, ki, d)).sum.toFloat
      })
    val ipHat = dot(q, c) + Seq((code, subTable(q))).toDF("c", "t")
      .select(graft.functions.PqAdc.ip(col("c"), col("t"), 2, 2)).as[Double].head()
    assert(math.abs(ipHat - dot(q, xhat)) < 1e-5, s"ip_hat $ipHat != ${dot(q, xhat)}")
    val nsqHat = dot(c, c) +
      2.0 * Seq((code, subTable(c))).toDF("c", "t")
        .select(graft.functions.PqAdc.ip(col("c"), col("t"), 2, 2)).as[Double].head() +
      Seq(code).toDF("c")
        .select(graft.functions.PqReconNormSq.normSq(col("c"), cb)).as[Double].head()
    assert(math.abs(nsqHat - dot(xhat, xhat)) < 1e-5, s"nsq_hat $nsqHat != ${dot(xhat, xhat)}")

    // recall at equal params: residual encoding must not lose to q92
    val brute = LlmOps.q38SimilarityTopk(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val resid = LlmOps.q93SimsearchIvfPqResidual(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val plain = LlmOps.q92SimsearchIvfPq(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(resid.nonEmpty)
    val rr = resid.intersect(brute).size
    val rp = plain.intersect(brute).size
    assert(rr >= rp, s"residual recall $rr < plain recall $rp (of ${brute.size})")
    // determinism
    assert(LlmOps.q93SimsearchIvfPqResidual(spark, sf).collect().map(_.toString).toSeq ===
      LlmOps.q93SimsearchIvfPqResidual(spark, sf).collect().map(_.toString).toSeq)
  }

  test("q94 batch paragraph ingest is row-identical to q86's global dedup") {
    // the oracle-sharing argument, asserted directly: ordered-range
    // batch admission against the persisted paragraph index must
    // reproduce the global min-(doc_id, para_idx) rule exactly
    val ingest = LlmOps.q94DedupParagraphIngest(spark, sf).collect().map(_.toString).toSeq
    val global = LlmOps.q86DedupParagraph(spark, sf).collect().map(_.toString).toSeq
    assert(ingest.nonEmpty)
    assert(ingest === global)
  }

  test("q89 Bloom-prefiltered decontamination is row-identical to exact q81") {
    val exact = LlmOps.q81Decontamination(spark, sf).collect().map(_.toString).toSeq
    val bloom = LlmOps.q89DecontaminationBloom(spark, sf).collect().map(_.toString).toSeq
    assert(bloom === exact)
    assert(bloom.nonEmpty)
    // the prefilter expression itself: no false negatives on members,
    // overwhelmingly false on disjoint strings
    val members = (0 until 500).map(i => s"member_$i")
    val bf = members.toDF("s").stat.bloomFilter("s", 500, 0.01)
    assert(members.forall(bf.mightContainString))
    val misses = (0 until 1000).count(i => bf.mightContainString(s"absent_$i"))
    assert(misses <= 50, s"$misses/1000 false positives at fpp=0.01")
  }

  test("q43 fused SignLshBucket == the HOF aggregate/zip_with form, every table, every vector") {
    val emb = Tables.embeddings(spark, sf)
    for (t <- 0 until 4) {
      val mismatches = emb.select(col("vec_id"),
          graft.functions.SignLshBucket.bucketOf(col("embedding"), t, 8, 64).as("fused"),
          LlmOps.lshBucketHof(t, 8, 64).as("hof"))
        .filter(col("fused") =!= col("hof")).count()
      assert(mismatches === 0L, s"table $t")
    }
  }

  test("q43 LSH-ANN: results are a subset of valid neighbors with decent recall") {
    val ann = LlmOps.q43SimsearchLshAnn(spark, sf).cache()
    val brute = LlmOps.q38SimilarityTopk(spark, sf).cache()
    // same query set; ANN cosines must match brute-force cosines where ids overlap
    val a = ann.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect().toSet
    val b = brute.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect().toSet
    val overlap = a.map(t => (t._1, t._2)).intersect(b.map(t => (t._1, t._2)))
    // 4 tables x 4 planes: expected recall ~0.5 on this corpus; require >= 20%
    assert(overlap.size >= b.size / 5, s"ANN overlap ${overlap.size}/${b.size} too low")
    // every overlapping pair has the identical (rounded) cosine
    val am = a.map(t => (t._1, t._2) -> t._3).toMap
    val bm = b.map(t => (t._1, t._2) -> t._3).toMap
    overlap.foreach(k => assert(am(k) === bm(k)))
  }

  test("q82 quantized cosine: high recall vs exact, bounded cos error, scales cancel") {
    val quant = LlmOps.q82SimsearchQuantized(spark, sf).cache()
    val brute = LlmOps.q38SimilarityTopk(spark, sf).cache()
    val a = quant.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val b = brute.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val aSet = a.map(t => (t._1, t._2)).toSet
    val bSet = b.map(t => (t._1, t._2)).toSet
    // int8 rounding barely perturbs the ranking: recall@k >= 0.9
    val overlap = aSet.intersect(bSet)
    assert(overlap.size * 10 >= bSet.size * 9,
      s"quantized overlap ${overlap.size}/${bSet.size} below 90%")
    // quantized cosine within 0.02 of the exact value on shared pairs
    val bm = b.map(t => (t._1, t._2) -> t._3).toMap
    a.foreach { case (q, n, c) =>
      bm.get((q, n)).foreach(ex =>
        assert(math.abs(c - ex) <= 0.02, s"($q,$n) quant $c vs exact $ex"))
    }
    // per-vector scales cancel in cosine: doubling a vector changes
    // its quantized ints not at all (same max|x|/127 ratio)
    val e = Tables.embeddings(spark, sf).limit(5)
    val q1 = LlmOps.quantizeEmbeddings(e).select("vec_id", "qe")
      .as[(Long, Seq[Byte])].collect().toMap
    val doubled = e.withColumn("embedding",
      transform(col("embedding"), x => x * lit(2.0f)))
    val q2 = LlmOps.quantizeEmbeddings(doubled).select("vec_id", "qe")
      .as[(Long, Seq[Byte])].collect().toMap
    q1.foreach { case (id, qe) => assert(q2(id) === qe) }
  }

  test("q49 IVF-ANN: valid cosines, decent recall vs exact") {
    val ivf = LlmOps.q49SimsearchIvf(spark, sf).cache()
    val brute = LlmOps.q38SimilarityTopk(spark, sf).cache()
    val a = ivf.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect().toSet
    val b = brute.select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect().toSet
    val overlap = a.map(t => (t._1, t._2)).intersect(b.map(t => (t._1, t._2)))
    // k-means-refined centroids hold >= 0.8 recall at nProbe=4/16 on
    // the harness corpus (measured 0.88)
    assert(overlap.size * 10 >= b.size * 8, s"IVF overlap ${overlap.size}/${b.size} too low")
    val bm = b.map(t => (t._1, t._2) -> t._3).toMap
    val am = a.map(t => (t._1, t._2) -> t._3).toMap
    overlap.foreach(k => assert(am(k) === bm(k)))
  }

  test("q47 fingerprint dedup catches order-insensitive duplicates") {
    val fp = LlmOps.q47DocFingerprint(spark, sf)
    assert(fp.count() > 0) // planted shuffles share a canonical fingerprint
    assert(fp.filter(col("n") < 2).count() === 0)
  }

  test("q48 multimodal decode: real BMP/PNG/JPEG/WAV/video features per mime, determinism") {
    val a = LlmOps.q48MultimodalDecode(spark, sf).collect()
    val b = LlmOps.q48MultimodalDecode(spark, sf).collect()
    assert(a.length === Tables.documents(spark, sf).count())
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    // every mime is present and decoded to its declared feature shape
    val byMime = a.groupBy(_.getAs[String]("mime"))
    assert(byMime.keySet === Set("image/bmp", "image/png", "image/jpeg",
      "video/gmjv", "audio/wav", "text/plain"))
    byMime("video/gmjv").foreach { r =>
      val f = r.getAs[String]("feature").split("\\|").map(_.toLong)
      assert(f.length === 4)
      // REAL decoded dims + frame count from the container walk
      assert((f(0), f(1), f(2)) === ((8L, 8L, 3L)))
      assert(f(3) >= 0 && f(3) <= 255000) // mean channel (milli)
    }
    for (m <- Seq("image/bmp", "image/png", "image/jpeg"); r <- byMime(m)) {
      val f = r.getAs[String]("feature").split("\\|").map(_.toLong)
      assert(f.length === 5)
      assert((f(0), f(1)) === ((16L, 16L))) // REAL decoded dimensions
      assert(f.drop(2).forall(x => x >= 0 && x <= 255000)) // channel means (milli)
    }
    // PNG is lossless: recompute one PNG doc's features end-to-end
    // locally (text -> rgb -> encodeImage(png) -> decodeImage ->
    // channel means) and they must equal the pipeline's exactly
    val pngRow = byMime("image/png").minBy(_.getAs[Long]("doc_id"))
    val pngId = pngRow.getAs[Long]("doc_id")
    val txt = Tables.documents(spark, sf).filter(col("doc_id") === pngId)
      .select("text").head().getString(0).getBytes("UTF-8")
    val rgb = Array.tabulate(16 * 16 * 3)(i =>
      if (txt.isEmpty) 0.toByte else txt(i % txt.length))
    val img = graft.ops.Media.decodeImage(
      graft.ops.Media.encodeImage("png", 16, 16, rgb))
    val n = img.width.toLong * img.height
    var rA = 0L; var gA = 0L; var bA = 0L
    var i = 0
    while (i < img.rgb.length) {
      rA += img.rgb(i) & 0xFF; gA += img.rgb(i + 1) & 0xFF
      bA += img.rgb(i + 2) & 0xFF; i += 3
    }
    assert(pngRow.getAs[String]("feature") ===
      Array(16L, 16L, rA * 1000 / n, gA * 1000 / n, bA * 1000 / n).mkString("|"))
    byMime("audio/wav").foreach { r =>
      val f = r.getAs[String]("feature").split("\\|").map(_.toLong)
      assert(f.length === 4)
      assert((f(0), f(1)) === ((8000L, 1L))) // REAL decoded rate + channels
      assert(f(2) > 0 && f(3) >= 0 && f(3) <= 1000000L) // samples, rms micro
    }
    byMime("text/plain").foreach { r =>
      assert(r.getAs[String]("feature").split("\\|").length === 4)
      assert(r.getAs[Int]("n_bytes") > 0)
    }
  }

  test("q90 transform: halved BMP/PNG/JPEG/WAV + temporally-downsampled video through the real codecs") {
    val rows = LlmOps.q90MultimodalTransform(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    val byMime = rows.groupBy(_.getAs[String]("mime"))
    // BMP: 16x16 -> 8x8, and the output is a VALID BMP of those dims
    byMime("image/bmp").foreach { r =>
      assert((r.getAs[Long]("out_meta1"), r.getAs[Long]("out_meta2")) === ((8L, 8L)))
      // 8px rows stride to 24 bytes (no padding needed): 54 + 8*24
      assert(r.getAs[Int]("out_bytes") === 54 + 8 * 24)
    }
    // PNG/JPEG: halved dims, re-encoded in their own container (no
    // closed-form size — containers compress — but never empty)
    for (m <- Seq("image/png", "image/jpeg"); r <- byMime(m)) {
      assert((r.getAs[Long]("out_meta1"), r.getAs[Long]("out_meta2")) === ((8L, 8L)))
      assert(r.getAs[Int]("out_bytes") > 0)
    }
    // video: temporal 2:1 — 3 frames keep the 2 even-indexed ones,
    // width unchanged, still a valid (non-empty) GMJV container
    byMime("video/gmjv").foreach { r =>
      assert((r.getAs[Long]("out_meta1"), r.getAs[Long]("out_meta2")) === ((2L, 8L)))
      assert(r.getAs[Int]("out_bytes") > 0)
    }
    // WAV: rate 8000 -> 4000, sample count halved (rounded up)
    byMime("audio/wav").foreach { r =>
      assert(r.getAs[Long]("out_meta1") === 4000L)
      assert(r.getAs[Long]("out_meta2") >= 1L)
      assert(r.getAs[Int]("out_bytes") === 44 + 2 * r.getAs[Long]("out_meta2").toInt)
    }
    byMime("text/plain").foreach { r =>
      assert(r.getAs[Int]("out_bytes") <= math.max(1, r.getAs[Int]("in_bytes") / 2))
    }
    // checksum is the real re-encoded payload's: recompute one BMP
    // end-to-end locally with the same codecs
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val bmpRow = rows.filter(_.getAs[String]("mime") == "image/bmp")
      .minBy(_.getAs[Long]("doc_id"))
    val id = bmpRow.getAs[Long]("doc_id")
    val txt = docs(id).getBytes("UTF-8")
    val rgb = Array.tabulate(16 * 16 * 3)(i => if (txt.isEmpty) 0.toByte else txt(i % txt.length))
    val img = graft.ops.Media.decodeBmp(graft.ops.Media.encodeBmp(16, 16, rgb))
    val halved = graft.ops.Media.resize(img, 8, 8)
    val out = graft.ops.Media.encodeBmp(8, 8, halved.rgb)
    val expect = out.foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L)
    assert(bmpRow.getAs[Long]("out_checksum") === expect)
    // determinism
    assert(LlmOps.q90MultimodalTransform(spark, sf).collect().map(_.toString).toSeq ===
      rows.map(_.toString).toSeq)
  }

  test("q50 frames: decode-aware coverage and determinism") {
    val frames = LlmOps.q50MultimodalFrames(spark, sf).cache()
    val docs = Tables.documents(spark, sf).count()
    assert(frames.select("doc_id").distinct().count() === docs)
    // frame indices are dense from 0 per doc
    val bad = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("frame_idx").as("mx"))
      .filter(col("mx") =!= col("n") - 1)
    assert(bad.count() === 0)
    // image docs (bmp %6==0, png %6==2, jpeg %6==3): one frame per
    // DECODED pixel row — exactly 16 regardless of container format
    for (m <- Seq(0, 2, 3)) {
      val imgCounts = frames.filter(pmod(col("doc_id"), lit(6)) === m)
        .groupBy("doc_id").count().select("count").distinct().collect()
      assert(imgCounts.map(_.getLong(0)).toSeq === Seq(16L), s"mime slot $m")
    }
    // video docs (%6==4): TRUE frame sampling — exactly the 3
    // container frames, one row each
    val vidCounts = frames.filter(pmod(col("doc_id"), lit(6)) === 4)
      .groupBy("doc_id").count().select("count").distinct().collect()
    assert(vidCounts.map(_.getLong(0)).toSeq === Seq(3L))
    // WAV docs: sample-window frames, offset strides in samples (256)
    val wavOff = frames.filter(pmod(col("doc_id"), lit(6)) === 1)
      .filter(col("frame_idx") === 1).select("offset").distinct().collect()
    assert(wavOff.map(_.getInt(0)).toSeq === Seq(256))
    assert(frames.collect().map(_.toString).toSeq ===
      LlmOps.q50MultimodalFrames(spark, sf).collect().map(_.toString).toSeq)
  }

  test("q51 json/orc round-trip agrees with the source") {
    val r = graft.ops.Relational.q51SourcesRoundtrip(spark, sf).cache()
    assert(r.filter(col("n_json") =!= col("n_orc")).count() === 0)
    val total = r.agg(sum("n_json")).collect()(0).getLong(0)
    assert(total === Tables.events(spark, sf).count())
  }

  test("incremental dedup against a persisted index == batch pairs across the split") {
    val docs = Tables.documents(spark, sf)
    val mid = 250L
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    LlmOps.dedupIndexWrite(docs.filter(col("doc_id") < mid), idx)
    val got = LlmOps.dedupIncremental(spark, docs.filter(col("doc_id") >= mid), idx, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: every batch-detector pair whose newer member is in
    // the new batch — cross-split pairs AND within-batch pairs (the
    // within-batch self-join exists so same-batch near-dups cannot
    // both slip in as "survivors")
    val want = LlmOps.q37DedupNearMinhash(spark, sf, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, b) => b >= mid }.toSet
    assert(want.nonEmpty)
    assert(got === want)
    // extending the index with the new batch makes a re-probe self-match-free
    LlmOps.dedupIndexWrite(docs.filter(col("doc_id") >= mid), idx, "append")
    val reprobe = LlmOps.dedupIncremental(spark, docs.filter(col("doc_id") >= mid), idx, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    reprobe.foreach { case (a, b) => assert(a != b) }
  }

  test("incremental dedup guards: candidate-mass and batch-size caps fail fast; benign batch unaffected") {
    def text(tag: String) = (0 until 40).map(i => s"${tag}_t$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_guard").toString
    LlmOps.dedupIndexWrite(Seq((1L, text("tmpl"))).toDF("doc_id", "text"), idx)
    // one template cluster: 80 identical docs land every band bucket at
    // multiplicity 80 > GuardBucketK, so the concentrated-bucket
    // broadcast join runs and the EXACT mass (16·80·79/2 self +
    // 16·80 hist = 51 840) trips a 10k cap before any pair join
    val hot = (100L until 180L).map(i => (i, text("tmpl"))).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      LlmOps.dedupIncremental(spark, hot, idx, 0.8, maxCandidates = 10000L)
    }
    assert(e.getMessage.contains("candidate pairs"))
    // batch-size cap fires first (before the mass join or any
    // batch-proportional work), remedy named
    val e2 = intercept[IllegalStateException] {
      LlmOps.dedupIncremental(spark, hot, idx, 0.8,
        maxCandidates = 10000L, maxBatchDocs = 4L)
    }
    assert(e2.getMessage.contains("maxBatchDocs=4"))
    // the same 80 docs with DISTINCT content sail through both
    // default caps and still flag the one true historical dup
    val cold = (100L until 180L).map(i =>
      (i, if (i == 150L) text("tmpl") else text(s"d$i"))).toDF("doc_id", "text")
    val pairs = LlmOps.dedupIncremental(spark, cold, idx).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 150L)))
  }

  test("dedup index delete-before-ingest: tombstone masks a late-landing batch; apply compacts; re-delete idempotent") {
    def text(tag: String) = (0 until 40).map(i => s"${tag}_t$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_del").toString
    LlmOps.dedupIndexAppendBatch(
      Seq((1L, text("a")), (3L, text("b"))).toDF("doc_id", "text"), idx, 0L)
    // doc 5 is tombstoned while ABSENT (the q129 delete-before-ingest
    // ordering); its batch then lands late/replayed
    assert(LlmOps.dedupIndexDelete(spark, idx, Seq(5L).toDF("doc_id")) === 1L)
    assert(LlmOps.dedupIndexDelete(spark, idx, Seq(5L).toDF("doc_id")) === 0L) // idempotent
    LlmOps.dedupIndexAppendBatch(Seq((5L, text("c"))).toDF("doc_id", "text"), idx, 1L)
    // the masked rows must not block a re-arrival of doc 5's content
    def probe() = LlmOps.dedupIncremental(spark,
      Seq((100L, text("c"))).toDF("doc_id", "text"), idx, 0.8).count()
    assert(probe() === 0L) // tombstone read path
    // ...while surviving content still blocks
    assert(LlmOps.dedupIncremental(spark,
      Seq((100L, text("a"))).toDF("doc_id", "text"), idx, 0.8).count() === 1L)
    assert(LlmOps.dedupIndexApplyDeletes(spark, idx))
    assert(probe() === 0L) // compacted path, same answer
    assert(!new java.io.File(s"$idx/deletes").exists())
    assert(!LlmOps.dedupIndexApplyDeletes(spark, idx)) // no-op re-apply
    // physical state: doc 5's rows are gone from both relations
    assert(spark.read.parquet(s"$idx/hs").filter(col("doc_id") === 5L).count() === 0L)
    assert(spark.read.parquet(s"$idx/buckets").filter(col("doc_id") === 5L).count() === 0L)
  }

  test("persisted IVF index: incremental probe has decent recall; append extends it") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val emb = Tables.embeddings(spark, sf)
    LlmOps.annIndexWrite(spark, emb, idx)
    // cell-partitioned layout exists (dynamic pruning target)
    val cellDirs = new java.io.File(s"$idx/vectors").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > 1)
    val queries = emb.filter(col("vec_id") < 10)
    val got = LlmOps.annIncremental(spark, queries, idx, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    // recall vs the exact brute-force top-k
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recall = exact.map { case (q, want) =>
      got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }.sum / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // append a new batch under the same centroids; the new vectors
    // become findable without touching the original index files
    val extra = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 100000L)
    LlmOps.annIndexWrite(spark, extra, idx, mode = "append")
    val re = LlmOps.annIncremental(spark, queries.filter(col("vec_id") < 3), idx,
      k = 1, nProbe = 4).collect()
    // a duplicate vector ranks as its own top neighbor (cos = 1)
    re.foreach { r => assert(r.getLong(2) === r.getLong(0) + 100000L, r.toString) }
  }

  test("PQ-coded index: ADC prefilter + exact rerank matches the float-scan path") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val pqIdx = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    val flIdx = java.nio.file.Files.createTempDirectory("graft_ivffl_idx").toString
    LlmOps.annIndexWrite(spark, emb, pqIdx)
    LlmOps.annIndexWrite(spark, emb, flIdx, writePq = false)
    // layout: the scan column is ONE int per vector, codebooks persisted
    assert(new java.io.File(s"$pqIdx/codes").exists())
    assert(new java.io.File(s"$pqIdx/pq").exists())
    assert(!new java.io.File(s"$flIdx/pq").exists())
    // candFactor ≥ any probed-cell population ⇒ the ADC prefilter is
    // lossless and the exact rerank must reproduce the float path
    // bit for bit (same rounding, same tie rule)
    val big = emb.count().toInt
    val pq = LlmOps.annIncremental(spark, queries, pqIdx, k = 5, nProbe = 4,
      candFactor = big).collect().map(_.toString).toSeq
    val fl = LlmOps.annIncremental(spark, queries, flIdx, k = 5, nProbe = 4)
      .collect().map(_.toString).toSeq
    assert(pq.nonEmpty)
    assert(pq === fl)
    // default candFactor: approximate prefilter, exact cosines, good recall
    val approx = LlmOps.annIncremental(spark, queries, pqIdx, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val want = fl.size
    val inter = LlmOps.annIncremental(spark, queries, flIdx, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .count { case (q, n) => approx.getOrElse(q, Set.empty).contains(n) }
    assert(inter.toDouble / want >= 0.8, s"PQ-prefilter recall $inter/$want")
  }

  test("q111 indexed simsearch: declared query == exact q38; realistic-params probe recall >= q92") {
    // declared query: exhaustive probe (nProbe = nCells, lossless
    // candFactor) of the persisted PQ index must reproduce exact q38
    // row for row — the structural-exactness argument its shared
    // oracle rests on
    val declared = LlmOps.q111SimsearchIndexed(spark, sf)
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty)
    assert(declared === exact)
    // realistic serving params (nProbe < nCells, small candFactor):
    // the persisted-index probe must not lose recall vs the
    // in-memory q92 composition — both run the same deterministic
    // quantizer fits, and the index probe's candFactor (16) is no
    // tighter than q92's (8)
    val emb = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_q111_idx").toString
    LlmOps.annIndexWrite(spark, emb, idx)
    val probe = LlmOps.annIncremental(spark,
        emb.filter(col("vec_id") < 10).select("vec_id", "embedding"),
        idx, k = 5, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = LlmOps.q38SimilarityTopk(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val viaIndex = probe.intersect(brute).size
    val viaQ92 = LlmOps.q92SimsearchIvfPq(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      .intersect(brute).size
    assert(viaIndex >= viaQ92,
      s"indexed-probe recall $viaIndex < q92 recall $viaQ92 (of ${brute.size})")
  }

  test("q119 sealed dedup ingest == q87: mid-stream seal + flat append change nothing") {
    // the declared equality its shared oracle rests on — the seal
    // before the last batch is a pure relayout, and the flat append
    // after it is the sealed index's contractual write path
    val viaSeal = LlmOps.q119DedupIngestSealed(spark, sf)
      .collect().map(_.toString).toSeq
    val stamped = LlmOps.q87DedupIngestBatch(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaSeal.nonEmpty)
    assert(viaSeal === stamped)
  }

  test("q118 serving probe: pruned realistic-params path, recall >= q92, memoized index reused") {
    val got = LlmOps.q118SimsearchServing(spark, sf)
    val rows = got.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rows.nonEmpty)
    val brute = LlmOps.q38SimilarityTopk(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val viaQ92 = LlmOps.q92SimsearchIvfPq(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      .intersect(brute).size
    assert(rows.intersect(brute).size >= viaQ92,
      s"serving recall ${rows.intersect(brute).size} < q92 recall $viaQ92 (of ${brute.size})")
    // the memo index is ON DISK at its parameter-keyed path, and a
    // second call returns identical rows without rebuilding (same
    // persisted quantizers + codes)
    val memo = graft.ops.LlmOps.annIndexMemoPathOf(spark, sf, 16, 3, 8, 16, 2)
    assert(new java.io.File(s"$memo/centroids").isDirectory)
    assert(LlmOps.q118SimsearchServing(spark, sf).collect().map(_.toString).toSeq ===
      got.collect().map(_.toString).toSeq)
  }

  test("q113 ANN ingest twin: batch-built index == exact q38; seed replay is idempotent") {
    // the declared query: corpus through annIndexAppendBatch in 4
    // ordered ranges, exhaustive probe — must equal exact q38 (the
    // shared-oracle argument)
    val declared = LlmOps.q113SimsearchIngestBatch(spark, sf)
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty)
    assert(declared === exact)
    // replay safety: re-appending the SEED batch (which also retrains
    // and rewrites quantizer state) leaves the probe answer unchanged
    val emb = Tables.embeddings(spark, sf)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val bSize = math.max(1L, maxId / 2 + 1)
    def batch(b: Int) = emb.filter(expr(s"vec_id DIV $bSize") === b)
    val idx = java.nio.file.Files.createTempDirectory("graft_q113_idx").toString
    (0 until 2).foreach(b => LlmOps.annIndexAppendBatch(spark, batch(b), idx, b.toLong))
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val before = LlmOps.annIncremental(spark, queries, idx, k = 5, nProbe = 4)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    LlmOps.annIndexAppendBatch(spark, batch(0), idx, 0L)
    val after = LlmOps.annIncremental(spark, queries, idx, k = 5, nProbe = 4)
      .collect().map(_.toString).toSeq
    assert(after === before)
  }

  test("q114 sealed-index simsearch: ingest + seal + probe == exact q38") {
    // the declared q114 equality: sealing the batch-stamped index is
    // a pure relayout, so the exhaustive probe of the SEALED index
    // must still reproduce exact q38 row for row — and the sealed
    // layout must actually be flat (no __batch_id column survives)
    val declared = LlmOps.q114SimsearchSealed(spark, sf)
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty)
    assert(declared === exact)
  }

  test("q61 cluster memo persists to disk and a later consumer reads it, not a recomputation") {
    // a threshold no other test/declared query uses, so this test
    // owns its memo path end-to-end
    val t = 0.51
    val memo = graft.ops.LlmOps.clusterMemoPathOf(spark, sf, t, 5000)
    def rmMemo(): Unit = {
      val d = new java.io.File(memo)
      Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
    }
    rmMemo()
    val first = LlmOps.q61DedupClustersCached(spark, sf, t)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val direct = LlmOps.q61DedupClusters(spark, sf, t)
      .select("doc_id", "cluster_id")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(first === direct)
    // the memo is a real parquet directory keyed by (dir, params)
    assert(new java.io.File(memo).isDirectory)
    // cross-session semantics: overwrite the memo with a sentinel and
    // observe the next call SERVE it — proof the cached path reads
    // the persisted memo (as a fresh session would) instead of
    // re-clustering; there is no JVM-side label array anymore
    Seq((-1L, -1L)).toDF("doc_id", "cluster_id")
      .coalesce(1).write.mode("overwrite").parquet(memo)
    val second = LlmOps.q61DedupClustersCached(spark, sf, t).collect()
    assert(second.length === 1 && second.head.getLong(0) === -1L)
    rmMemo() // leave nothing poisoned for other consumers
  }

  test("q121 NB classifier: planted-token labels separate near-perfectly; declared query is deterministic") {
    // fixture-independent separation law: plant a sentinel token in
    // the label-1 docs — the log-count-ratio weight for that token is
    // log2(251/1)-scale, decisively positive, regardless of how
    // separable the synthetic sources happen to be
    val planted = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" qzxplant")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 2 === 0).cast("int").as("label"))
      .localCheckpoint()
    val (w, oovW, bias) = LlmOps.fitNbLogOdds(planted, 4096)
    val scored = LlmOps.scoreNbLogOdds(planted, w, oovW, bias)
      .join(planted.select("doc_id", "label"), "doc_id")
    val n = scored.count()
    val correct = scored.filter(
      (col("llr_micro") > 0) === (col("label") === 1)).count()
    assert(correct.toDouble / n >= 0.95,
      s"NB separated only $correct/$n planted-label docs")
    // lift over the majority-class trivial model
    val majority = math.max(
      planted.filter(col("label") === 1).count(),
      planted.filter(col("label") === 0).count())
    assert(correct > majority, s"no lift over majority ($correct vs $majority)")
    // declared query: deterministic rows, one per doc, twice
    val a = LlmOps.q121QualityClassifier(spark, sf).collect().map(_.toString).toSeq
    val bRun = LlmOps.q121QualityClassifier(spark, sf).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a.size === Tables.documents(spark, sf).count())
    assert(a === bRun)
  }

  test("q122 LR refinement: NB-init separates planted labels; GD loss is monotone non-increasing; deterministic") {
    val planted = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" qzxplant")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 2 === 0).cast("int").as("label"))
      .localCheckpoint()
    // fit at the DECLARED pass count (4 since round 17) so the
    // separation law pins the shipped configuration, not a deeper run
    val (w, b, losses) = LlmOps.fitHashedLr(planted, 4096, 4, 2.0)
    val scored = LlmOps.scoreHashedLr(planted, w, b, 4096)
      .join(planted.select("doc_id", "label"), "doc_id")
    val n = scored.count()
    val correct = scored.filter(
      (col("logit_micro") > 0) === (col("label") === 1)).count()
    assert(correct.toDouble / n >= 0.95,
      s"refined LR separated only $correct/$n planted-label docs")
    // the theorem: with the bias riding as a constant-1 coordinate,
    // ‖[x,1]‖₂² ≤ 2 for frequency features ⇒ L = ½ ⇒ lr=2 < 4 = 2/L,
    // so every full-batch step strictly decreases the training loss
    assert(losses.length === 4)
    losses.sliding(2).foreach { case Array(prev, next) =>
      assert(next <= prev + 1e-12, s"loss rose: $prev -> $next in ${losses.mkString(",")}")
    }
    // declared query: deterministic rows, one per doc, twice
    val a = LlmOps.q122QualityLrRefined(spark, sf).collect().map(_.toString).toSeq
    val bRun = LlmOps.q122QualityLrRefined(spark, sf).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a.size === Tables.documents(spark, sf).count())
    assert(a === bRun)
  }

  test("tableSignature distinguishes duplicate file triples (the XOR-cancellation regression)") {
    // The round-9 signature XOR-combined per-file hashes, so two
    // files with identical (basename, length, mtime) under different
    // partition subdirectories CANCELLED — a corpus containing such a
    // pair signed identically to one containing neither, the exact
    // stale-memo failure the signature exists to prevent. The memo
    // path embeds the signature, so distinct on-disk states must
    // yield distinct memo paths.
    import java.nio.file.{Files, Paths}
    def mk(tag: String, subdirs: Seq[String]): String = {
      val root = Files.createTempDirectory(s"graft_sig_$tag").toString
      subdirs.foreach { sub =>
        val d = Paths.get(s"$root/documents.parquet/$sub")
        Files.createDirectories(d)
        Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
        Files.setLastModifiedTime(d.resolve("part-0.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
      }
      root
    }
    // dirA: a self-cancelling PAIR of identical triples; dirB: none
    val a = mk("a", Seq("p=1", "p=2"))
    val b = mk("b", Seq())
    val pathA = graft.ops.LlmOps.clusterMemoPathOf(spark, a, 0.5, 5000)
    val pathB = graft.ops.LlmOps.clusterMemoPathOf(spark, b, 0.5, 5000)
    // strip the dir-key component (differs trivially); compare the
    // signature segment, which under XOR read identically ("both
    // empty") for these two states
    def sig(p: String) = p.substring(p.lastIndexOf("_s") + 2).takeWhile(_ != '_')
    assert(sig(pathA) !== sig(pathB),
      s"duplicate-pair state signed as empty: $pathA vs $pathB")
    // and one MORE copy of the same triple must change it again
    val c = mk("c", Seq("p=1", "p=2", "p=3"))
    val pathC = graft.ops.LlmOps.clusterMemoPathOf(spark, c, 0.5, 5000)
    assert(sig(pathC) !== sig(pathA))
    assert(sig(pathC) !== sig(pathB))
  }

  test("invalidateMemosFor retires a corpus dir's persisted memos by name") {
    val t = 0.52 // this test's own memo key
    val memo = graft.ops.LlmOps.clusterMemoPathOf(spark, sf, t, 5000)
    LlmOps.gcSweepReset() // each trigger below must sweep NOW, not throttle
    LlmOps.q61DedupClustersCached(spark, sf, t).collect()
    assert(new java.io.File(memo).isDirectory)
    // the cross-session form: retire by corpus dir, not by JVM-local
    // path registry (an in-place corpus rewrite is the use case)
    LlmOps.invalidateMemosFor(spark, sf)
    assert(!new java.io.File(memo).exists)
    // in-JVM trainer fits of the dir go too, Bpe's merge tables
    // included — on a scratch copy, so other suites' fits stay warm
    val copy = java.nio.file.Files.createTempDirectory("graft_inval")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      copy.resolve("documents.parquet"))
    graft.ops.Bpe.fitCached(spark, copy.toString, 20, 256)
    val before = graft.ops.Bpe.fitRuns.get()
    LlmOps.invalidateMemosFor(spark, copy.toString)
    graft.ops.Bpe.fitCached(spark, copy.toString, 20, 256)
    assert(graft.ops.Bpe.fitRuns.get() - before === 1L,
      "a rewritten dir must not encode with merges fit on its old contents")
  }

  // every (order, rule) pair a declared LM gate scores with — one law
  // body, one named test per pair
  private val ngramLaws = Seq(
    (2, LlmOps.LmRule.Interpolated,
      "q117 bigram LM separates token-shuffled text from the original; unigram is order-blind"),
    (3, LlmOps.LmRule.Interpolated,
      "q130 trigram LM separates shuffled text at least as well as the bigram; P_tri < 1 invariant holds"),
    (3, LlmOps.LmRule.Backoff,
      "q133 stupid-backoff LM: bounded tables, no negative bits, deterministic"),
    (3, LlmOps.LmRule.KneserNey,
      "q134 Kneser-Ney trigram LM: bounded tables, no negative bits, deterministic"),
    (4, LlmOps.LmRule.KneserNey,
      "q135 Kneser-Ney 4-gram LM: bounded tables, no negative bits, deterministic"),
    (5, LlmOps.LmRule.KneserNey,
      "q137 Kneser-Ney 5-gram LM: bounded tables, no negative bits, deterministic"))

  ngramLaws.foreach { case (order, rule, name) =>
    test(name) {
      val docsT = Tables.documents(spark, sf)
      val docs = docsT.select(col("doc_id"), col("lang"), col("text"))
      val ref = docsT.filter(col("source") === "src0").select("text")
      val lm = LlmOps.fitNgramLm(ref, order)
      def scored(d: org.apache.spark.sql.DataFrame,
          m: LlmOps.NgramLm = lm) =
        LlmOps.scoreWithNgramLm(d, m, rule, 1L, 2L)
      // model-table bounds hold at every order (the TakeOrdered contract)
      val caps = Seq(4096, 16384, 32768, 65536, 131072)
      (1 to order).foreach { k =>
        assert(lm.table(k).count() <= caps(k - 1), s"order-$k table over its cap")
      }
      // P < 1 at every position (the in-table-context fit invariant
      // each rule's scaladoc proves): no negative bits
      assert(scored(docs).filter(col("bits_micro") < 0).count() === 0)
      // run-twice determinism (TakeOrdered ties broken by gram asc)
      def perDoc(m: LlmOps.NgramLm) = scored(docs, m)
        .select("doc_id", "bits_micro").orderBy("doc_id").collect().toSeq
      assert(perDoc(lm) === perDoc(LlmOps.fitNgramLm(ref, order)))
      // the reason the ladder exists: destroying word ORDER while
      // keeping the token multiset (deterministic in-doc sort) must
      // cost the interpolated model strictly more bits
      def total(d: org.apache.spark.sql.DataFrame): Long =
        scored(d).agg(sum("bits_micro")).head().getLong(0)
      val shuffled = docs.select(col("doc_id"), col("lang"),
        concat_ws(" ", array_sort(split(col("text"), " "))).as("text"))
      if (rule == LlmOps.LmRule.Interpolated) {
        val (orig, shuf) = (total(docs), total(shuffled))
        assert(shuf > orig,
          s"order-$order bits on shuffled text ($shuf) not above original ($orig)")
      }
      // ... while the q100 unigram, a bag-of-tokens model, is exactly
      // order-blind
      if (order == 2) {
        val (ulm, oov) = LlmOps.fitUnigramLm(ref, 4096)
        def uniBits(d: org.apache.spark.sql.DataFrame): Long =
          LlmOps.scoreWithLm(d, ulm, oov, 1L, 2L)
            .agg(sum("bits_micro")).head().getLong(0)
        assert(uniBits(docs) === uniBits(shuffled),
          "unigram should be exactly order-blind (same token multiset)")
      }
    }
  }

  test("q120 retrained-index simsearch: ingest + rotation + probe == exact q38") {
    // the declared equality: rotation rewrites every quantizer-derived
    // byte but preserves the vector set, which is all the exhaustive
    // probe depends on
    val declared = LlmOps.q120SimsearchRetrained(spark, sf)
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty)
    assert(declared === exact)
  }

  test("ANN flat append after seal: a sealed index extends via annIndexWrite(append) and answers exactly") {
    // the q119 contract for the vector family: once sealed, the index
    // re-enters the flat append world — new vectors land through
    // annIndexWrite(mode = "append") under the PERSISTED quantizers,
    // and the exhaustive probe over the extended index equals exact
    // brute-force over the full corpus
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val half = maxId / 2
    val idx = java.nio.file.Files.createTempDirectory("graft_sealapp").toString
    LlmOps.annIndexAppendBatch(spark, emb.filter(col("vec_id") <= half), idx, 0L)
    LlmOps.annIndexSeal(spark, idx)
    LlmOps.annIndexWrite(spark, emb.filter(col("vec_id") > half), idx,
      mode = "append")
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
    val got = LlmOps.annIncremental(spark, queries, idx, k = 5, nProbe = 16,
        candFactor = (((n + 4) / 5).toInt).max(1))
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got === exact)
  }

  test("ANN deletion: tombstone probe == rebuild-without-deleted; apply and retrain both compact; idempotent") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val n = emb.count()
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    LlmOps.annIndexWrite(spark, emb, idx)
    val delIds = emb.select("vec_id").filter(pmod(col("vec_id"), lit(5)) === 2)
    assert(LlmOps.annIndexDelete(spark, idx, delIds) > 0L)
    // re-delete records nothing (idempotent)
    assert(LlmOps.annIndexDelete(spark, idx, delIds) === 0L)
    val queries = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val cf = (((n + 4) / 5).toInt).max(1)
    def probe(path: String) = LlmOps.annIncremental(spark, queries, path,
        k = 5, nProbe = 16, candFactor = cf)
      .collect().map(_.toString).toSeq
    // the ground truth: a FRESH index holding only the survivors
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ann_del_rebuild").toString
    LlmOps.annIndexWrite(spark,
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 2), idx2)
    val rebuilt = probe(idx2)
    assert(rebuilt.nonEmpty)
    // merge-on-read: tombstones mask without any rewrite
    assert(probe(idx) === rebuilt)
    // physical apply: deletes/ gone, answer unmoved
    LlmOps.annIndexApplyDeletes(spark, idx)
    val fs = graft.ops.Sinks.fsFor(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/deletes")))
    assert(probe(idx) === rebuilt)
    // rotation doubles as compaction: delete one more, retrain — the
    // installed root carries no deletes/ and the probe reflects both
    val extraDel = emb.select("vec_id").filter(col("vec_id") === 7L)
    assert(LlmOps.annIndexDelete(spark, idx, extraDel) === 1L)
    LlmOps.annIndexRetrain(spark, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/deletes")))
    val idx3 = java.nio.file.Files.createTempDirectory("graft_ann_del_rebuild2").toString
    LlmOps.annIndexWrite(spark, emb.filter(
      pmod(col("vec_id"), lit(5)) =!= 2 && col("vec_id") =!= 7L), idx3)
    assert(probe(idx) === probe(idx3))
  }

  test("lifecycle composition: ingest -> retrain -> seal -> probe still answers exactly") {
    // the full compaction window a long-lived stream runs: stamped
    // ingest, quantizer rotation, quiesce seal — then the exhaustive
    // probe must STILL equal exact q38 (content preserved through
    // both rewrites), and the final layout must be flat
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val bSize = math.max(1L, maxId / 2 + 1)
    val idx = java.nio.file.Files.createTempDirectory("graft_lifecycle").toString
    (0 until 2).foreach(b => LlmOps.annIndexAppendBatch(spark,
      emb.filter(expr(s"vec_id DIV $bSize") === b), idx, b.toLong))
    LlmOps.annIndexRetrain(spark, idx)
    LlmOps.annIndexSeal(spark, idx)
    assert(!spark.read.parquet(s"$idx/vectors").columns.contains("__batch_id"))
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
    val got = LlmOps.annIncremental(spark, queries, idx, k = 5, nProbe = 16,
        candFactor = (((n + 4) / 5).toInt).max(1))
      .collect().map(_.toString).toSeq
    val exact = LlmOps.q38SimilarityTopk(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got === exact)
  }

  test("annIndexRetrain: rotation restores recall after distribution drift; stamps + replay survive") {
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    // drifted second half: the NEGATED corpus — norms unchanged, but a
    // mode the seed-batch quantizers never saw (negated vectors score
    // negative cosine against every seed centroid and crowd into the
    // least-bad cells with garbage ADC codes)
    val shifted = emb.select((col("vec_id") + lit(maxId + 1)).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"), col("label"))
      .localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("graft_retrain").toString
    LlmOps.annIndexAppendBatch(spark, emb, idx, 0L)
    LlmOps.annIndexAppendBatch(spark, shifted, idx, 1L)
    // ground truth: exact top-5 cosine neighbors of the drifted-half
    // queries over the accumulated corpus (driver-side, tiny fixture)
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect() ++
      shifted.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val queries = shifted.filter(col("vec_id") <= maxId + 20)
      .select("vec_id", "embedding").localCheckpoint()
    def cosd(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    val truth = queries.as[(Long, Array[Float])].collect().map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).map { case (id, v) => (id, cosd(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    def recall(): Int = LlmOps.annIncremental(spark, queries, idx,
        k = 5, nProbe = 4, candFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .count { case (q, n) => truth(q).contains(n) }
    val seeded = recall()
    LlmOps.annIndexRetrain(spark, idx)
    // batch stamps survive the rotation (replay addressing intact)
    assert(spark.read.parquet(s"$idx/vectors").columns.contains("__batch_id"))
    assert(spark.read.parquet(s"$idx/codes").columns.contains("__batch_id"))
    val rotated = recall()
    // everything here is deterministic (fixture, trainers, probe), so
    // the STRICT lift is stable: measured 46 -> 51 of 100 at these
    // params (the sweep also shows >= at every (nProbe, candFactor)
    // tried — rotation never hurts on this fixture)
    assert(rotated > seeded,
      s"rotated recall $rotated !> seeded recall $seeded (of ${truth.size * 5})")
    // replay of a PRE-retrain batch (the seed batch, at-least-once
    // delivery) after the rotation: the replay assigns under the
    // rotated quantizers exactly as the retrain did, so the probe
    // answer must not move
    val before = LlmOps.annIncremental(spark, queries, idx,
      k = 5, nProbe = 4, candFactor = 8).collect().map(_.toString).toSeq
    LlmOps.annIndexAppendBatch(spark, emb, idx, 0L)
    val after = LlmOps.annIncremental(spark, queries, idx,
      k = 5, nProbe = 4, candFactor = 8).collect().map(_.toString).toSeq
    assert(after === before)
  }

  test("ANN probe scans only the probed cell partitions (static prune, q106 technique)") {
    val emb = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_prune").toString
    LlmOps.annIndexWrite(spark, emb, idx)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap {
        case d if d.isDirectory => parquetFiles(d)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Seq.empty
      }
    val allCodeFiles = parquetFiles(new java.io.File(s"$idx/codes")).size
    assert(allCodeFiles >= 8, s"fixture degenerate: only $allCodeFiles code files")
    // 2 queries × nProbe=1: the probed-cell union is ≤ 2 cells, and
    // the probed cells are driver-known, so the cell filter is a
    // STATIC partition prune — the executed code scan must touch at
    // most the probed cells' files, never the whole index
    val res = LlmOps.annIncremental(spark,
      emb.filter(col("vec_id") < 2).select("vec_id", "embedding"),
      idx, k = 3, nProbe = 1)
    res.collect()
    // AQE wraps the plan: recurse through adaptive roots and leaf
    // query stages to reach the actual file scans
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
      }.flatten
    val scans = scansOf(res.queryExecution.executedPlan)
    val codeScan = scans.find(_.schema.fieldNames.contains("code")).get
    val read = codeScan.metrics("numFiles").value
    assert(read <= 2L, s"code scan read $read files for 2 probed cells")
    assert(read < allCodeFiles.toLong, "no pruning: scan read the whole index")
  }

  test("ANN seed crash windows: partial quantizer state re-seeds; partial layout degrades, never throws") {
    import org.apache.commons.io.FileUtils
    def rm(p: String): Unit =
      FileUtils.deleteDirectory(new java.io.File(p))
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    // window 1 — killed between the pq and centroids commits: the
    // centroids dir is the seed-commit marker, so the index reads as
    // UNSEEDED (empty probe, no throw) and the next batch re-trains
    // both quantizers and becomes findable
    val idx1 = java.nio.file.Files.createTempDirectory("graft_crash1").toString
    LlmOps.annIndexAppendBatch(spark, emb, idx1, 0L)
    rm(s"$idx1/centroids"); rm(s"$idx1/vectors"); rm(s"$idx1/codes")
    assert(LlmOps.annIncremental(spark, queries, idx1).count() === 0L)
    LlmOps.annIndexAppendBatch(spark, emb, idx1, 1L)
    assert(LlmOps.annIncremental(spark, queries, idx1).count() > 0L)
    assert(new java.io.File(s"$idx1/pq").exists(), "re-seed must restore PQ state")
    // window 2 — killed after both quantizer commits but before the
    // vectors/codes writes: the probe must DEGRADE to empty, not die
    // with PATH_NOT_FOUND; a replayed seed repairs the layout
    val idx2 = java.nio.file.Files.createTempDirectory("graft_crash2").toString
    LlmOps.annIndexAppendBatch(spark, emb, idx2, 0L)
    rm(s"$idx2/vectors"); rm(s"$idx2/codes")
    assert(LlmOps.annIncremental(spark, queries, idx2).count() === 0L)
    LlmOps.annIndexAppendBatch(spark, emb, idx2, 0L)
    assert(LlmOps.annIncremental(spark, queries, idx2).count() > 0L)
    // window 3 — codes/ present but vectors/ gone (a seal killed
    // between the per-subdirectory swaps): the PQ path's rerank
    // cannot run, so the probe must fall through and degrade to
    // empty, never PATH_NOT_FOUND at the rerank join
    val idx3 = java.nio.file.Files.createTempDirectory("graft_crash3").toString
    LlmOps.annIndexAppendBatch(spark, emb, idx3, 0L)
    rm(s"$idx3/vectors")
    assert(LlmOps.annIncremental(spark, queries, idx3).count() === 0L)
    LlmOps.annIndexAppendBatch(spark, emb, idx3, 0L)
    assert(LlmOps.annIncremental(spark, queries, idx3).count() > 0L)
  }

  test("ANN ingest: an empty leading batch defers the seed instead of bricking the index") {
    val emb = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_seed").toString
    // batch 0 is EMPTY (stream started before the source had data):
    // must not freeze an unseeded quantizer state
    LlmOps.annIndexAppendBatch(spark, emb.limit(0), idx, 0L)
    // an unseeded index probes to zero neighbors, not an error
    val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
    assert(LlmOps.annIncremental(spark, queries, idx).count() === 0L)
    // the first NON-empty batch seeds and its vectors become findable
    LlmOps.annIndexAppendBatch(spark, emb, idx, 1L)
    val got = LlmOps.annIncremental(spark, queries, idx, k = 3, nProbe = 4)
    assert(got.count() > 0L)
    // a replayed pre-seed empty batch is a no-op on the live index
    LlmOps.annIndexAppendBatch(spark, emb.limit(0), idx, 0L)
    assert(LlmOps.annIncremental(spark, queries, idx, k = 3, nProbe = 4)
      .collect().map(_.toString).toSeq ===
      got.collect().map(_.toString).toSeq)
  }

  test("q73 fuzzy dedup finds seeded typo variants within its blocks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (2L, "alpha beta gamma delta epsilox", "en", "s", 30L), // 1 flip -> pair
      (3L, "alpha beta gamma delta epsilon", "fr", "s", 30L), // other lang -> blocked out
      (4L, "omega beta gamma delta epsilon", "en", "s", 30L)) // other first token -> blocked out
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.q73DedupFuzzy(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, 2L, 1)))
    // real corpus: pair ordering and threshold laws hold
    val real = LlmOps.q73DedupFuzzy(spark, sf).collect()
    real.foreach { r =>
      assert(r.getLong(0) < r.getLong(1) && r.getInt(2) <= 30)
    }
  }

  test("q44/q45/q46 ratios stay in range") {
    val q = LlmOps.q44TextQuality(spark, sf).cache()
    assert(q.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() === 0)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() === 0)
    val l = LlmOps.q45LangId(spark, sf)
    assert(l.filter(col("pred_lang").isNull).count() === 0)
    val t = LlmOps.q46TokenCountBpe(spark, sf)
    assert(t.filter(col("n_pieces") < col("n_ws_tokens")).count() === 0)
  }

  // -- round-7 corpus curation ops ----------------------------------

  test("q95 boilerplate removal equals local recomputation of the frequency rule") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def paras(text: String): Seq[String] = {
      val t = text.split(" ", -1).toSeq
      (0 until math.ceil(t.size / 20.0).toInt)
        .map(i => t.slice(i * 20, i * 20 + 20).mkString(" "))
    }
    val nd = docs.flatMap { case (id, tx) => paras(tx).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).distinct.size }
    val expected = docs.map { case (id, tx) =>
      val ps = paras(tx)
      val kept = ps.filter(nd(_) <= 1)
      (id, ps.size.toLong, kept.size.toLong, kept.mkString(" "))
    }.sortBy(_._1).toSeq
    val got = LlmOps.q95BoilerplateFreq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(expected.exists(e => e._2 != e._3), "fixture should contain cross-doc boilerplate")
    assert(got === expected)
  }

  test("q95 leaves within-document repeats alone (distinct-doc count 1)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    val rep = (1 to 20).map(i => s"r$i").mkString(" ") // doc 1 only, twice
    val boil = (1 to 20).map(i => s"b$i").mkString(" ") // docs 2 AND 3
    val u2 = (1 to 20).map(i => s"x$i").mkString(" ")
    val u3 = (1 to 20).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, s"$rep $rep", "en", "s", 10L),
      (2L, s"$boil $u2", "en", "s", 10L),
      (3L, s"$boil $u3", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = LlmOps.q95BoilerplateFreq(spark, tmp).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // rep repeats WITHIN doc 1 (distinct-doc count 1) -> both kept;
    // boil spans docs 2+3 -> dropped everywhere, unique tails survive
    assert(got(1L) === ((2L, 2L, s"$rep $rep")))
    assert(got(2L) === ((2L, 1L, u2)))
    assert(got(3L) === ((2L, 1L, u3)))
  }

  test("q96 bucketed mixture equals the single-window greedy prefix rule") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong))
    def gate(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString
    val total = docs.map(_._3).sum.toDouble
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, xs) =>
      val budget = (if (lang == "en") 0.4 else 0.15) * 0.5 * total
      var cum = 0L
      xs.sortBy(x => (gate(x._1), x._1)).filter { x =>
        val keep = cum < budget; cum += x._3; keep
      }
    }.map(_._1).toSet
    val got = LlmOps.q96DataMixture(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < docs.length, "budget should bite")
  }

  test("q96 keeps per-domain token overshoot under one document") {
    val out = LlmOps.q96DataMixture(spark, sf)
      .groupBy("lang").agg(sum("n_tokens").as("kept"), max("n_tokens").as("mx"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val total = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0).toDouble
    out.foreach { case (lang, (kept, mx)) =>
      val budget = (if (lang == "en") 0.4 else 0.15) * 0.5 * total
      assert(kept < budget + mx, s"$lang grossly over budget")
    }
  }

  test("q97 SemDeDup screen equals brute-force recomputation within cells") {
    val out = LlmOps.q97DedupSemantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    // index-ordered double accumulation — the DotProduct expression's
    // exact arithmetic, so the screen's decisions reproduce bitwise
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = out.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      val order = xs.sortBy(x => (-x._3, x._1))
      order.zipWithIndex.map { case (x, i) =>
        x._1 -> !order.take(i).exists(y => cos(emb(y._1), emb(x._1)) >= 0.35)
      }
    }.toMap
    assert(out.length === emb.size)
    out.foreach { case (id, _, _, keep) =>
      assert(keep === expected(id), s"vec $id keep mismatch")
    }
    assert(out.exists(!_._4), "fixture should contain semantic near-dups")
  }

  test("q98 substring dedup equals local recomputation of the ExactSubstr rule") {
    val L = 8
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val gramCount = docs.flatMap { case (_, t) =>
      if (t.size >= L) t.sliding(L).map(_.mkString(" ")).toSeq else Nil
    }.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val expected = docs.map { case (id, t) =>
      val covered = (0 to t.size - L)
        .filter(i => gramCount(t.slice(i, i + L).mkString(" ")) > 1)
        .flatMap(i => i until i + L).toSet
      val kept = t.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
      (id, t.size.toLong, covered.size.toLong, kept.mkString(" "))
    }.sortBy(_._1).toSeq
    val got = LlmOps.q98DedupSubstring(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(expected.exists(_._3 > 0), "fixture should contain duplicated substrings")
    assert(expected.exists(e => e._3 > 0 && e._3 < e._2),
      "fixture should contain a PARTIALLY-covered doc")
    assert(got === expected)
  }

  test("q98 is idempotent: re-running on its own output removes nothing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr").toString
    LlmOps.q98DedupSubstring(spark, sf)
      .select(col("doc_id"), col("clean_text").as("text"),
        lit("en").as("lang"), lit("s").as("source"),
        length(col("clean_text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val again = LlmOps.q98DedupSubstring(spark, tmp)
    assert(again.filter(col("n_dup_tokens") > 0).count() === 0)
  }

  test("q99 resolution keeps exactly the best-quality doc per cluster (both detectors)") {
    val quality = LlmOps.q44TextQuality(spark, sf).select("doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def check(clusters: Map[Long, Long],
        got: Array[(Long, (Long, Boolean))]): Unit = {
      val expectedKeep = clusters.groupBy(_._2).values.flatMap { xs =>
        val winner = xs.keys.minBy(id => (-quality(id), id))
        xs.keys.map(id => id -> (id == winner))
      }.toMap
      assert(got.length === clusters.size)
      got.foreach { case (id, (cl, keep)) =>
        assert(cl === clusters(id), s"doc $id cluster mismatch")
        assert(keep === expectedKeep(id), s"doc $id keep mismatch")
      }
      assert(got.exists(!_._2._2), "fixture should contain multi-doc clusters")
    }
    // corpus-scale composition: resolution over q75's LSH clusters
    val lshClusters = LlmOps.q75DedupClustersLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    check(lshClusters, LlmOps.q99DedupResolveLsh(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(3)))))
    // declared (oracled) query: same rule over q61's exact clusters
    val exactClusters = LlmOps.q61DedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    check(exactClusters, LlmOps.q99DedupResolve(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(3)))))
  }

  test("q97 keeps everything at an unreachable threshold and is deterministic") {
    val all = LlmOps.q97DedupSemantic(spark, sf, threshold = 1.01)
    assert(all.filter(!col("keep")).count() === 0)
    val a = LlmOps.q97DedupSemantic(spark, sf).collect().map(_.toString).toSeq
    val b = LlmOps.q97DedupSemantic(spark, sf).collect().map(_.toString).toSeq
    assert(a === b)
  }

  // -- round-7 model-based quality filtering ------------------------

  private def microL(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  private def lg2(x: Double): Double = math.log(x) / math.log(2.0)

  test("q100 perplexity filter equals local recomputation of the unigram LM") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val refToks = docs.filter(_._4 == "src0").flatMap(_._3.split(" ", -1))
    val voc = refToks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(4096)
    val denom = (refToks.length + voc.length + 1).toDouble
    val bits = voc.map { case (t, c) => t -> microL(-lg2((c + 1) / denom)) }.toMap
    val oov = microL(-lg2(1.0 / denom))
    val expected = docs.map { case (id, lang, tx, _) =>
      val tk = tx.split(" ", -1)
      val bm = tk.map(t => bits.getOrElse(t, oov)).sum
      val bucket =
        if (bm < 4910000L * tk.length) "head"
        else if (bm < 4940000L * tk.length) "middle" else "tail"
      (id, lang, tk.length.toLong, bm, bucket)
    }.sortBy(_._1).toSeq
    val got = LlmOps.q100PerplexityFilter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(got === expected)
    assert(expected.map(_._5).distinct.size === 3, "all three buckets should appear")
  }

  test("q101 importance weights equal local recomputation of the hashed models") {
    def b2(tok: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val tToks = docs.filter(_._4 == "src0").flatMap(_._3.split(" ", -1))
    val rToks = docs.flatMap(_._3.split(" ", -1))
    val tm = tToks.groupBy(b2).view.mapValues(_.length.toLong).toMap
    val rm = rToks.groupBy(b2).view.mapValues(_.length.toLong).toMap
    val tD = (tToks.length + 256).toDouble
    val rD = (rToks.length + 256).toDouble
    def db(b: String): Long =
      microL(lg2((tm.getOrElse(b, 0L) + 1) / tD) - lg2((rm.getOrElse(b, 0L) + 1) / rD))
    val expected = docs.map { case (id, lang, tx, _) =>
      val tk = tx.split(" ", -1)
      val lw = tk.map(t => db(b2(t))).sum
      (id, lang, tk.length.toLong, lw, lw > -210000L * tk.length)
    }.sortBy(_._1).toSeq
    val got = LlmOps.q101ImportanceResample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    assert(got === expected)
    assert(expected.exists(_._5) && expected.exists(!_._5), "threshold should split the corpus")
  }

  test("q103 datacard equals local recomputation; rows roll up to corpus totals") {
    val stop = Set("the", "a", "of", "and", "in", "to")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val multiplicity = docs.groupBy(_._4).view.mapValues(_.length).toMap
    val expected = docs.groupBy(d => (d._2, d._3)).toSeq.map { case ((lang, src), xs) =>
      val qm = xs.map { case (_, _, _, tx) =>
        val tk = tx.split(" ", -1)
        val nStop = tk.count(stop)
        math.round(math.min(tk.length / 50.0, 1.0) *
          (1.0 - nStop.toDouble / tk.length) * 1000.0)
      }.sum
      (lang, src, xs.length.toLong,
        xs.map(_._4.split(" ", -1).length.toLong).sum,
        xs.map(_._4.length.toLong).sum,
        xs.count(d => multiplicity(d._4) > 1).toLong, qm)
    }.sortBy(t => (t._1, t._2))
    val got = LlmOps.q103CorpusDatacard(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    assert(got.map(_._3).sum === docs.length.toLong)
    // the synthetic corpus has no exact text dups — pin the dup
    // counter on a fixture that does (cross-source, counted per group)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_card").toString
    Seq(
      (1L, "same text here", "en", "s1", 1L),
      (2L, "same text here", "en", "s2", 1L),
      (3L, "unique text here", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val card = LlmOps.q103CorpusDatacard(spark, tmp).collect()
      .map(r => (r.getString(1), (r.getLong(2), r.getLong(5)))).toMap
    assert(card("s1") === ((2L, 1L)), "s1: two docs, one in a dup group")
    assert(card("s2") === ((1L, 1L)), "s2: its doc duplicates s1's")
  }

  test("q100/q101 cores: reference-like text scores better than off-distribution text") {
    import spark.implicits._
    val ref = Seq.fill(30)("alpha beta gamma").toDF("text")
    val docs = Seq(
      (1L, "en", "alpha beta gamma alpha beta gamma"),
      (2L, "en", "zz1 zz2 zz3 zz4 zz5 zz6")).toDF("doc_id", "lang", "text")
    val ppl = LlmOps.perplexityFilter(docs, ref, 4096, 1L, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(3).toDouble / r.getLong(2)).toMap
    assert(ppl(1L) < ppl(2L), s"in-vocab doc must have lower bits/token: $ppl")
    val dsir = LlmOps.importanceResample(docs, ref, 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(dsir(1L)._1 > dsir(2L)._1, s"target-like doc must weigh more: $dsir")
    assert(dsir(1L)._2 && !dsir(2L)._2, s"threshold 0 keeps only target-like: $dsir")
    // production hash path: same laws, same schema, deterministic —
    // only the (declared) bucket partition differs from the md5 oracle
    val prod = LlmOps.importanceResample(docs, ref, 0L, prodHash = true).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(prod(1L)._1 > prod(2L)._1, s"xxhash path must preserve the ordering: $prod")
    assert(prod(1L)._2 && !prod(2L)._2)
    val prod2 = LlmOps.importanceResample(docs, ref, 0L, prodHash = true).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(prod.view.mapValues(_._1).toMap === prod2, "xxhash path must be deterministic")
  }

  test("annIndexWrite overwrite removes stale PQ state when the rebuild writes none") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_stale").toString
    val emb = Tables.embeddings(spark, SharedSpark.sfTiny)
    LlmOps.annIndexWrite(spark, emb, idx)
    def exists(sub: String) =
      new java.io.File(s"$idx/$sub").exists()
    assert(exists("pq") && exists("codes"))
    // a float-only REBUILD of the same path must not leave the old
    // PQ state behind — a probe would otherwise ADC-scan codes that
    // describe a different build
    LlmOps.annIndexWrite(spark, emb, idx, writePq = false)
    assert(!exists("pq") && !exists("codes"))
    // and the probe now takes the float path, matching a fresh
    // float-only index on a disjoint dir
    val queries = emb.filter(col("vec_id") < 3)
      .select("vec_id", "embedding")
    val got = LlmOps.annIncremental(spark, queries, idx)
      .collect().map(_.toSeq).toSeq
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ann_stale2").toString
    LlmOps.annIndexWrite(spark, emb, idx2, writePq = false)
    val want = LlmOps.annIncremental(spark, queries, idx2)
      .collect().map(_.toSeq).toSeq
    assert(got === want && got.nonEmpty)
  }

  test("paraIngestBatch: out-of-order doc ids cannot admit a paragraph twice; replay stays idempotent") {
    val idx = java.nio.file.Files.createTempDirectory("graft_para_ooo").toString
    def para(tag: String) = (0 until 20).map(i => s"${tag}_$i").mkString(" ")
    // batch 0 delivers the HIGHER doc id first
    val b0 = Seq((10L, para("P"))).toDF("doc_id", "text")
    LlmOps.paraIngestBatch(spark, b0, idx, 0L)
    // batch 1 delivers a lower id with the same paragraph + a new one
    val b1 = Seq((5L, para("P") + " " + para("Q"))).toDF("doc_id", "text")
    val out1 = LlmOps.paraIngestBatch(spark, b1, idx, 1L)
      .select("doc_id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    // arrival-first: doc 5's P is already indexed (by doc 10) and
    // must be stripped; Q is new and admitted
    assert(out1 === Seq((5L, 2L, 1L, para("Q"))))
    // the index stays unique per paragraph — no second row for P
    val pRows = spark.read.parquet(s"$idx/paras")
      .filter(col("para") === para("P")).collect()
    assert(pRows.length === 1 && pRows.head.getAs[Long]("doc_id") === 10L)
    // replaying batch 1 re-admits exactly its own rows, bit-identically
    val replay = LlmOps.paraIngestBatch(spark, b1, idx, 1L)
      .select("doc_id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(replay === out1)
    assert(spark.read.parquet(s"$idx/paras")
      .filter(col("para") === para("P")).count() === 1L)
  }

  test("ANN trainers are fit once per (corpus, params): cached calls return the stored fit") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, SharedSpark.sfTiny)
      .withColumn("nsq",
        LlmOps.dotProduct(col("embedding"), col("embedding")))
    // reference equality proves the memo hit — the second call must
    // return the STORED object, not a re-run of the Lloyd loop
    val c1 = LlmOps.kmeansCentroidsCached(emb, SharedSpark.sfTiny, 16, 3)
    val c2 = LlmOps.kmeansCentroidsCached(emb, SharedSpark.sfTiny, 16, 3)
    assert(c1 eq c2)
    val p1 = LlmOps.pqCodebooksCached(emb, SharedSpark.sfTiny, 8, 16, 8, 2)
    val p2 = LlmOps.pqCodebooksCached(emb, SharedSpark.sfTiny, 8, 16, 8, 2)
    assert(p1 eq p2)
    // and the cached fit is the direct fit (bit-identical params in,
    // deterministic trainer out)
    val direct = LlmOps.kmeansCentroids(emb, 16, 3)
    assert(c1.map(_._1).toSeq === direct.map(_._1).toSeq)
    assert(c1.map(_._2.toSeq).toSeq === direct.map(_._2.toSeq).toSeq)
    // different params miss the cache
    val other = LlmOps.kmeansCentroidsCached(emb, SharedSpark.sfTiny, 16, 2)
    assert(!(other eq c1))
  }

  test("memo install garbage-collects stale-signature and stale-format siblings") {
    val tmp = System.getProperty("java.io.tmpdir")
    def mkdir(name: String): java.io.File = {
      val d = new java.io.File(tmp, name)
      d.mkdirs(); d
    }
    // derive the LIVE name through the one key definition, then
    // fabricate siblings: same family+dir but a stale signature, and
    // a same-signature sibling under OTHER params (must survive —
    // concurrent sessions may be mid-read on it)
    val t = 0.53 // this test's own memo key
    val live = graft.ops.LlmOps.clusterMemoPathOf(spark, sf, t, 5000)
    val liveName = new java.io.File(live).getName
    val sigStart = liveName.lastIndexOf("_s") + 2
    val sigEnd = liveName.indexOf('_', sigStart)
    val staleName = liveName.substring(0, sigStart) + "deadbeefdeadbeef" +
      liveName.substring(sigEnd)
    val otherParams = liveName.substring(0, sigEnd) + "_t990000_d5000"
    // HERMETIC ENTRY: a previous run of this test (crashed, killed, or
    // concurrent) leaves fabricated memos, markers and Hadoop .crc
    // sidecars under the SAME names — an aged leftover marker makes
    // pass 1 delete the fresh fixture instantly instead of
    // tombstoning it. Scrub every artifact this test ever fabricates,
    // including the live memo (File.delete() below is a no-op on a
    // non-empty dir) and hidden checksum sidecars.
    def scrub(name: String): Unit = Seq(
      name, name + LlmOps.StaleMarkerSuffix,
      "." + name + LlmOps.StaleMarkerSuffix + ".crc").foreach { n =>
      val f = new java.io.File(tmp, n)
      if (f.isDirectory) f.listFiles().foreach(_.delete())
      f.delete()
    }
    Seq(liveName, staleName, staleName + "__tmp_app_123", otherParams,
      staleName.replaceFirst("deadbeef", "0ddba11d")).foreach(scrub)
    val stale = mkdir(staleName)
    val keepOther = mkdir(otherParams)
    val staleStaging = mkdir(staleName + "__tmp_app_123")
    LlmOps.gcSweepReset() // each trigger below must sweep NOW, not throttle
    LlmOps.q61DedupClustersCached(spark, sf, t).collect()
    assert(new java.io.File(live).isDirectory)
    // TWO-PHASE sweep: the first GC pass only drops a tombstone
    // marker (grace clock starts at first-SEEN-stale, so a concurrent
    // reader that resolved its path against the previous corpus state
    // — however old the memo — is never deleted mid-read); the memo
    // itself must survive pass 1
    def markerOf(d: java.io.File) =
      new java.io.File(tmp, d.getName + LlmOps.StaleMarkerSuffix)
    assert(stale.isDirectory, "stale sibling swept before its grace")
    assert(staleStaging.isDirectory, "stale staging swept before its grace")
    assert(markerOf(stale).exists, "no tombstone from GC pass 1")
    assert(markerOf(staleStaging).exists, "no staging tombstone")
    // age the MARKERS past the window; a second pass sweeps both
    val aged = System.currentTimeMillis() - LlmOps.MemoGcGraceMs - 60000L
    markerOf(stale).setLastModified(aged)
    markerOf(staleStaging).setLastModified(aged)
    LlmOps.gcSweepReset()
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(!stale.exists, "stale-signature sibling survived aged GC")
    assert(!staleStaging.exists, "stale staging dir survived aged GC")
    assert(!markerOf(stale).exists, "tombstone not cleaned with its memo")
    assert(keepOther.isDirectory,
      "live-signature sibling under other params was wrongly deleted")
    assert(!markerOf(keepOther).exists,
      "live sibling wrongly tombstoned")
    // a LIVE memo that carries a leftover tombstone (signature
    // flip-flopped back to a prior corpus state) must shed it — an
    // aged marker would otherwise skip the grace at the NEXT genuine
    // staleness and delete under a reader
    val leftover = markerOf(keepOther)
    leftover.createNewFile()
    leftover.setLastModified(aged)
    LlmOps.gcSweepReset()
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(keepOther.isDirectory, "live memo deleted via leftover marker")
    assert(!leftover.exists, "live memo kept its stale tombstone")
    keepOther.delete()
    // a STALE memo whose aged marker was dropped under a DIFFERENT
    // live signature (a flip-flop the GC never observed while the
    // memo was live) must be RE-tombstoned, not deleted: the grace
    // clock restarts for the new staleness context
    val stale2 = mkdir(staleName.replaceFirst("deadbeef", "0ddba11d"))
    val m2 = markerOf(stale2)
    java.nio.file.Files.writeString(m2.toPath, "not_the_live_signature")
    m2.setLastModified(aged)
    LlmOps.gcSweepReset()
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(stale2.isDirectory,
      "stale memo deleted on a wrong-context (flip-flop) marker")
    assert(m2.exists && m2.lastModified > aged,
      "wrong-context marker not re-tombstoned")
    stale2.delete(); m2.delete()
    // format-tagged families: a sibling with the CURRENT signature
    // but a stale _f<N> tag is dead code's bytes and goes too
    val annLive = graft.ops.LlmOps.annIndexMemoPathOf(spark, sf,
      16, 3, 8, 16, 2)
    val annName = new java.io.File(annLive).getName
    assert(annName.endsWith("_" + graft.ops.LlmOps.IndexMemoFormat))
    scrub(annName.stripSuffix(graft.ops.LlmOps.IndexMemoFormat) + "f0")
    val oldFormat = mkdir(annName.stripSuffix(
      graft.ops.LlmOps.IndexMemoFormat) + "f0")
    LlmOps.gcSweepReset()
    graft.ops.LlmOps.gcStaleMemos(spark, "graft_ann_index_memo_", sf,
      "embeddings") // pass 1: tombstone only
    assert(oldFormat.isDirectory, "format sibling swept before grace")
    val fmtMarker = new java.io.File(tmp,
      oldFormat.getName + LlmOps.StaleMarkerSuffix)
    assert(fmtMarker.exists, "no tombstone for stale-format sibling")
    fmtMarker.setLastModified(
      System.currentTimeMillis() - LlmOps.MemoGcGraceMs - 60000L)
    LlmOps.gcSweepReset()
    graft.ops.LlmOps.gcStaleMemos(spark, "graft_ann_index_memo_", sf,
      "embeddings")
    assert(!oldFormat.exists, "stale-format sibling survived aged GC")
    assert(!fmtMarker.exists, "format tombstone not cleaned")
  }

  test("GC throttle window is anchored, not sliding: a steady sub-window cadence still sweeps once per window") {
    // round-15 advice (medium): an unconditional put before the
    // interval check slid the window forward on every throttled call,
    // so a steady cadence below GcResweepNs swept once and never
    // again — phase-2 tombstone deletion never completed. Simulated
    // here by backdating the recorded window by HALF a window between
    // calls (= calls every GcResweepNs/2): the second call must find
    // the anchor a FULL window old and sweep.
    val tmp = System.getProperty("java.io.tmpdir")
    val t = 0.59 // this test's own memo key
    val live = graft.ops.LlmOps.clusterMemoPathOf(spark, sf, t, 5100)
    val liveName = new java.io.File(live).getName
    val sigStart = liveName.lastIndexOf("_s") + 2
    val sigEnd = liveName.indexOf('_', sigStart)
    val staleName = liveName.substring(0, sigStart) + "feedc0defeedc0de" +
      liveName.substring(sigEnd)
    def scrub(name: String): Unit = Seq(
      name, name + LlmOps.StaleMarkerSuffix,
      "." + name + LlmOps.StaleMarkerSuffix + ".crc").foreach { n =>
      val f = new java.io.File(tmp, n)
      if (f.isDirectory) f.listFiles().foreach(_.delete())
      f.delete()
    }
    scrub(staleName)
    val stale = new java.io.File(tmp, staleName)
    stale.mkdirs()
    val marker = new java.io.File(tmp, staleName + LlmOps.StaleMarkerSuffix)
    LlmOps.gcSweepReset()
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(marker.exists, "pass 1 dropped no tombstone")
    // age the tombstone past grace; from here only the THROTTLE
    // stands between the memo and deletion
    marker.setLastModified(
      System.currentTimeMillis() - LlmOps.MemoGcGraceMs - 60000L)
    // steady cadence at half the window: two throttled-call rounds
    // span one full window, so the SECOND call must sweep (under the
    // sliding-window bug it never would, at ANY number of rounds)
    LlmOps.gcSweepBackdate(LlmOps.GcResweepNs / 2)
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(stale.exists, "mid-window call swept (throttle broken)")
    LlmOps.gcSweepBackdate(LlmOps.GcResweepNs / 2)
    LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    assert(!stale.exists,
      "steady sub-window cadence starved the sweep: the throttle " +
        "window slid instead of staying anchored")
    assert(!marker.exists, "tombstone not cleaned with its memo")
  }

  test("GC sweep never touches __lease/__reclaim files sharing the family stem") {
    // round-15 advice: a HELD lease beside a stale-signature staging
    // build shares the stem prefix — tombstoning it and deleting it
    // after grace silently breaks the single-writer guarantee
    val tmp = System.getProperty("java.io.tmpdir")
    val t = 0.61
    val live = graft.ops.LlmOps.clusterMemoPathOf(spark, sf, t, 5200)
    val liveName = new java.io.File(live).getName
    val sigStart = liveName.lastIndexOf("_s") + 2
    val sigEnd = liveName.indexOf('_', sigStart)
    val staleStem = liveName.substring(0, sigStart) + "ba5eba11ba5eba11" +
      liveName.substring(sigEnd)
    val lease = new java.io.File(tmp, staleStem + "__tmp_app_9__lease")
    val reclaim = new java.io.File(tmp,
      staleStem + "__lease.__reclaim_1_2_3")
    Seq(lease, reclaim).foreach { f =>
      new java.io.File(tmp, f.getName + LlmOps.StaleMarkerSuffix).delete()
      f.delete()
    }
    java.nio.file.Files.writeString(lease.toPath, "op=test pid=1 host=x")
    java.nio.file.Files.writeString(reclaim.toPath, "op=test pid=1 host=x")
    val aged = System.currentTimeMillis() - LlmOps.MemoGcGraceMs - 60000L
    lease.setLastModified(aged); reclaim.setLastModified(aged)
    // two aged passes: enough to tombstone AND delete any entry the
    // sweep classifies as stale
    (1 to 2).foreach { _ =>
      LlmOps.gcSweepReset()
      LlmOps.gcStaleMemos(spark, "graft_cluster_memo_", sf, "documents")
    }
    assert(lease.exists, "sweep deleted a held writer lease")
    assert(reclaim.exists, "sweep deleted a reclaim claim file")
    assert(!new java.io.File(tmp,
      lease.getName + LlmOps.StaleMarkerSuffix).exists,
      "sweep tombstoned a writer lease")
    lease.delete(); reclaim.delete()
  }

  test("dataMixtureOf == the plain per-lang budget window; invariant under input partitioning") {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    def run(df: org.apache.spark.sql.DataFrame) =
      LlmOps.dataMixtureOf(df, 0.5, 0.4, 0.15)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = run(d)
    // Scala mirror of the q96 window rule: per lang in (md5-gate,
    // doc_id) order, keep while the EXCLUSIVE prefix sum is under
    // share * frac * total (same left-assoc double arithmetic)
    def md5hex(s: String): String = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      m.map("%02x".format(_)).mkString
    }
    val rows = d.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2),
        md5hex(r.getLong(0).toString).take(4)))
    val total = rows.map(_._3).sum.toDouble
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (lang, xs) =>
      val budget = (if (lang == "en") 0.4 else 0.15) * 0.5 * total
      var cum = 0L
      xs.sortBy(x => (x._4, x._1)).takeWhile { x =>
        val keep = cum < budget; cum += x._3; keep
      }
    }.map(_._1).sorted.toSeq
    assert(got.nonEmpty && got === expected)
    assert(run(d.repartition(7)) === got)
  }
}
