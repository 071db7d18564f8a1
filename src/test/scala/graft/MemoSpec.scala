package graft

import graft.ops.{LlmOps, Memo}
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The [[ops.Memo]] module: golden memo names (installed memos stay
  * reachable across code versions) and the [[ops.Memo.ensure]] law on
  * toy builds — a tiny parquet write, no index trainer.
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** A fabricated corpus: one fixed-content file per table with a fixed
    * mtime, so its table signatures are fixed too.
    */
  private def fabricate(dir: String): String = {
    Seq("documents", "embeddings").foreach { t =>
      val d = new java.io.File(s"$dir/$t.parquet")
      d.mkdirs()
      val f = new java.io.File(d, "part-00000.parquet")
      Files.write(f.toPath, s"golden-$t".getBytes("UTF-8"))
      f.setLastModified(1700000000000L)
    }
    dir
  }

  test("golden memo names: every family's path is byte-identical to the pre-Memo helpers'") {
    // the dir string is part of every name (sanitized + hashed), so it
    // is a fixed literal, not a fresh temp dir
    val root = new Path("/tmp/graft_memo_golden")
    val fs = ops.Sinks.fsFor(spark, root.toString)
    fs.delete(root, true)
    val dir = fabricate(s"$root/corpus")
    val key = "_tmp_graft_memo_golden_corpus_h149aa668e4b3a274"
    val docs = "_s007c00004b49edd7"
    val emb = "_s007c000058424d5c"
    val rows = Seq(
      (Memo.Cluster, LlmOps.clusterMemoParams(0.5, 5000),
        s"graft_cluster_memo_$key${docs}_t500000_d5000"),
      // q125's para-cleaned labels
      (Memo.Cluster, LlmOps.clusterMemoParams(0.5, 5000) + "_cp20ex",
        s"graft_cluster_memo_$key${docs}_t500000_d5000_cp20ex"),
      (Memo.CorpusPrep, "_d5000_t500m5d300t200e13c700p20pplq12",
        s"graft_corpus_prep_memo_$key${docs}_d5000_t500m5d300t200e13c700p20pplq12"),
      (Memo.AnnIndex, "_c16i3m8k16p2",
        s"graft_ann_index_memo_$key${emb}_c16i3m8k16p2_f3"),
      (Memo.AnnStamped, "_b3_c16i3m8k16p2",
        s"graft_ann_stamped_memo_$key${emb}_b3_c16i3m8k16p2_f3"),
      (Memo.DedupPrefix, "_b3_p1_t1000000",
        s"graft_dedup_prefix_memo_$key${docs}_b3_p1_t1000000_f3"),
      (Memo.ParaFull, "_b3_w20",
        s"graft_para_full_memo_$key${docs}_b3_w20_f3"),
      (Memo.Bm25Stamped, "_b3",
        s"graft_bm25_stamped_memo_$key${docs}_b3_f3"),
      (Memo.Bm25Index, "_n64",
        s"graft_bm25_index_memo_$key${docs}_n64_f3"))
    assert(rows.map(_._1).toSet === Memo.Families.toSet)
    try rows.foreach { case (family, params, name) =>
      assert(Memo.pathOf(spark, family, dir, params) ===
        ops.Sinks.indexRoot + "/" + name, family.name)
    } finally fs.delete(root, true)
  }

  /** A toy family: its memos are one-row parquet relations. */
  private val Toy = Memo.Family("memolaw", "documents", formatted = false)

  test("Memo.ensure law: cold builds once, warm repairs, stale staging cleared, failed build installs nothing") {
    val dir = fabricate(Files.createTempDirectory("graft_memolaw").toString)
    val fs = ops.Sinks.fsFor(spark, ops.Sinks.indexRoot)
    var builds = 0
    def toy(who: String)(staging: Path): Unit = {
      builds += 1
      // default save mode: the write fails if staging already exists
      Seq((1L, who)).toDF("id", "who").coalesce(1).write.parquet(staging.toString)
    }
    def whoIn(memo: String): Seq[String] =
      spark.read.parquet(memo).as[(Long, String)].collect().map(_._2).toSeq
    try {
      // cold: build runs once and installs at the named path
      val memo = Memo.ensure(spark, Toy, dir, "_cold")(toy("first"))
      assert(builds === 1)
      assert(memo === Memo.pathOf(spark, Toy, dir, "_cold"))
      assert(whoIn(memo) === Seq("first"))
      // warm: no build; a nested staging child a killed racer left is
      // removed before anyone reads the memo
      val nested = new Path(memo, new Path(memo).getName + "__tmp_dead")
      fs.mkdirs(nested)
      Files.write(new java.io.File(nested.toString, "junk.parquet").toPath,
        Array[Byte](9, 9, 9))
      assert(Memo.ensure(spark, Toy, dir, "_cold")(toy("second")) === memo)
      assert(builds === 1)
      assert(!fs.exists(nested))
      assert(whoIn(memo) === Seq("first"))
      // a leftover staging dir of THIS application (an earlier failed
      // build) is cleared before the build runs
      val fresh = Memo.pathOf(spark, Toy, dir, "_stale")
      val leftover = new Path(fresh + "__tmp_" + spark.sparkContext.applicationId)
      fs.mkdirs(leftover)
      Files.write(new java.io.File(leftover.toString, "junk.parquet").toPath,
        Array[Byte](9, 9, 9))
      assert(Memo.ensure(spark, Toy, dir, "_stale")(toy("clean")) === fresh)
      assert(builds === 2)
      assert(whoIn(fresh) === Seq("clean"))
      assert(!fs.exists(leftover))
      // a build that throws installs nothing and leaves no staging;
      // the next call rebuilds
      val failing = Memo.pathOf(spark, Toy, dir, "_fail")
      val staging = new Path(failing + "__tmp_" + spark.sparkContext.applicationId)
      val e = intercept[IllegalStateException] {
        Memo.ensure(spark, Toy, dir, "_fail") { s =>
          toy("partial")(s)
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage === "build failed")
      assert(!fs.exists(new Path(failing)))
      assert(!fs.exists(staging))
      assert(Memo.ensure(spark, Toy, dir, "_fail")(toy("retry")) === failing)
      assert(builds === 4)
      assert(whoIn(failing) === Seq("retry"))
    } finally Memo.retire(spark, dir)
  }
}
