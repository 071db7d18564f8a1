package graft

import graft.ops.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operational sink guarantees: dynamic partition overwrite replaces
  * only touched partitions (idempotent retries), compaction preserves
  * rows while bounding files per partition.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_sinks_$tag")
    d.toFile.deleteOnExit()
    d.resolve("data").toString
  }

  test("configurable durable index root: persisted index/memo state lands under it, queries unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft_durable_root")
      .toString
    // graft.index.root is the in-JVM override of SPARK_GRAFT_INDEX_ROOT
    // (one resolution order, Sinks.indexRoot)
    System.setProperty("graft.index.root", base)
    try {
      assert(Sinks.indexRoot === base)
      // a memo-building declared query: its persisted index memo must
      // land under the configured root (nothing under tmpdir is
      // consulted — the fresh root forces a clean build), and the
      // result stays correct
      val r = graft.ops.LlmOps.q118SimsearchServing(spark, SharedSpark.sfTiny)
      assert(r.count() > 0)
      val landed = new java.io.File(base).listFiles().map(_.getName)
      assert(landed.exists(_.startsWith("graft_")), landed.toSeq)
    } finally System.clearProperty("graft.index.root")
    assert(Sinks.indexRoot !== base) // override cleared for later suites
  }

  test("overwritePartitions replaces only the touched partitions and is idempotent") {
    val path = tmpDir("dyn")
    val day1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")).toDF("id", "v", "day")
    Sinks.overwritePartitions(day1, path, "day")
    // a replayed batch for day 2 only — day 1 must survive untouched
    val day2fix = Seq((30L, "c2", "2024-01-02"), (31L, "d2", "2024-01-02"))
      .toDF("id", "v", "day")
    Sinks.overwritePartitions(day2fix, path, "day")
    Sinks.overwritePartitions(day2fix, path, "day") // retry = no-op
    val got = spark.read.parquet(path)
    assert(got.filter(col("day") === "2024-01-01").count() === 2)
    assert(got.filter(col("day") === "2024-01-02").select("id")
      .as[Long].collect().sorted.toSeq === Seq(30L, 31L))
    assert(got.count() === 4)
  }

  test("compact preserves every row and bounds files per partition") {
    val path = tmpDir("compact")
    // deliberately fragmented: 20 tasks x 2 days of small files
    val df = spark.range(2000)
      .withColumn("day", when(col("id") % 2 === 0, "2024-01-01").otherwise("2024-01-02"))
      .repartition(20)
    df.write.mode("overwrite").partitionBy("day").parquet(path)
    val before = spark.read.parquet(path)
    val beforeIds = before.select("id").as[Long].collect().sorted.toSeq
    def filesPerDay(): Map[String, Int] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.startsWith("day=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerDay().values.forall(_ > 5)) // fragmented before
    Sinks.compact(spark, path, "day", targetRowsPerFile = 1000L)
    val after = spark.read.parquet(path)
    assert(after.select("id").as[Long].collect().sorted.toSeq === beforeIds)
    // 1000 rows/day at target 1000 -> exactly 1 file per day
    assert(filesPerDay().values.forall(_ === 1), filesPerDay().toString)
  }

  test("compactVersioned: old-manifest reader stays complete across the commit") {
    val root = tmpDir("versioned")
    // fragmented initial commit: 20 tasks x 2 days
    val df = spark.range(1000)
      .withColumn("day", when(col("id") % 2 === 0, "2024-01-01").otherwise("2024-01-02"))
      .repartition(20)
    val v1 = Sinks.commitVersion(spark, root, df, partCol = Some("day"))
    assert(v1 === 1L)
    assert(Sinks.liveVersion(spark, root) === Some(1L))
    val allIds = (0L until 1000L).toSeq
    // a reader resolves the manifest NOW — before any compaction runs —
    // and pins the physical path it will scan (what a long query does)
    val oldReaderPath = Sinks.versionDir(root, Sinks.liveVersion(spark, root).get)
    val v2 = Sinks.compactVersioned(spark, root, "day", targetRowsPerFile = 500L)
    assert(v2 === 2L)
    // MID-COMMIT VIEW: the new version is live, but the old reader's
    // pinned path still holds the COMPLETE original dataset — no
    // rename window, nothing was touched under v=1/
    assert(spark.read.parquet(oldReaderPath)
      .select("id").as[Long].collect().sorted.toSeq === allIds)
    // new readers follow the pointer and see the same rows, compacted
    assert(Sinks.readVersioned(spark, root)
      .select("id").as[Long].collect().sorted.toSeq === allIds)
    val v2files = new java.io.File(Sinks.versionDir(root, 2))
      .listFiles().filter(_.getName.startsWith("day="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(v2files.forall(_ === 1), v2files.toSeq.toString) // 500 rows/day at target 500
    // prune after the grace window: only the live version survives,
    // and the pointer read is unaffected
    Sinks.pruneVersions(spark, root)
    val dirs = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).toSeq
    assert(dirs === Seq("v=2"))
    assert(Sinks.readVersioned(spark, root).count() === 1000L)
    // a second commit cycle keeps working on the pruned table
    val v3 = Sinks.compactVersioned(spark, root, "day", targetRowsPerFile = 100L)
    assert(v3 === 3L)
    assert(Sinks.readVersioned(spark, root).count() === 1000L)
  }

  test("commitVersionEvolved: additive evolution NULL-fills history; non-additive changes throw") {
    val root = tmpDir("evolved")
    val base = spark.range(10).select(col("id"),
      (col("id") % 3).as("grp"))
    assert(Sinks.commitVersion(spark, root, base) === 1L)
    // additive: a new column arrives; live rows read back NULL-filled
    val extended = spark.range(10, 15).select(col("id"),
      (col("id") % 3).as("grp"), (col("id") * 2).as("score"))
    assert(Sinks.commitVersionEvolved(spark, root, extended) === 2L)
    val live = Sinks.readVersioned(spark, root)
    assert(live.count() === 15L)
    assert(live.columns.sorted.toSeq === Seq("grp", "id", "score"))
    assert(live.filter(col("score").isNull).select("id").as[Long]
      .collect().sorted.toSeq === (0L until 10L))
    assert(live.filter(col("score").isNotNull)
      .select("id", "score").as[(Long, Long)].collect().sorted.toSeq
      === (10L until 15L).map(i => (i, i * 2)))
    // a second evolution stacks (history keeps NULL for both tiers)
    val third = spark.range(15, 16).select(col("id"), (col("id") % 3).as("grp"),
      (col("id") * 2).as("score"), lit("x").as("tag"))
    assert(Sinks.commitVersionEvolved(spark, root, third) === 3L)
    assert(Sinks.readVersioned(spark, root).filter(col("tag").isNull)
      .count() === 15L)
    // dropping a live column is a rewrite, not an evolution
    val e1 = intercept[IllegalArgumentException] {
      Sinks.commitVersionEvolved(spark, root,
        spark.range(1).select(col("id")))
    }
    assert(e1.getMessage.contains("additive-only"))
    // retyping a committed column throws too
    val e2 = intercept[IllegalArgumentException] {
      Sinks.commitVersionEvolved(spark, root,
        spark.range(1).select(col("id"), (col("id") % 3).as("grp"),
          col("id").cast("string").as("score"), lit("x").as("tag")))
    }
    assert(e2.getMessage.contains("type"))
    // failed evolutions left the live version untouched
    assert(Sinks.liveVersion(spark, root) === Some(3L))
    assert(Sinks.readVersioned(spark, root).count() === 16L)
    // on an uninitialized root the evolved commit IS the initial commit
    val root2 = tmpDir("evolved_init")
    assert(Sinks.commitVersionEvolved(spark, root2, extended) === 1L)
    assert(Sinks.readVersioned(spark, root2).count() === 5L)
  }

  test("saltedJoin equals the plain join on a skewed fixture") {
    val big = spark.range(10000)
      .withColumn("k", when(col("id") < 9000, lit(1L)).otherwise(col("id") % 50))
      .withColumn("payload", col("id") * 2)
    val small = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "id", "payload", "name")
    val salted = graft.ops.Skew.saltedJoin(big, small, "k")
      .select("k", "id", "payload", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("exportShards: exact shard count, deterministic membership, sorted within shards") {
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val ev = Tables.events(spark, SharedSpark.sfTiny)
      .select("user_id", "event_id", "ts_ms")
    graft.ops.Sinks.exportShards(ev, "user_id", Seq("user_id", "ts_ms"), 8, s"$out/a")
    val shardDirs = new java.io.File(s"$out/a").listFiles()
      .filter(_.getName.startsWith("__shard="))
    assert(shardDirs.length === 8)
    val back = spark.read.parquet(s"$out/a")
    assert(back.count() === ev.count())
    // within-file ordering holds for every file
    import org.apache.spark.sql.functions._
    val perFile = back
      .withColumn("f", input_file_name())
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
    // read order within a parquet file == written order; assert the
    // (user_id, ts_ms) sequence is non-decreasing per file
    val viol = perFile.withColumn("pu", lag("user_id", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy("rn")))
      .withColumn("pt", lag("ts_ms", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy("rn")))
      .filter(col("pu").isNotNull &&
        (col("user_id") < col("pu") ||
          (col("user_id") === col("pu") && col("ts_ms") < col("pt"))))
    assert(viol.count() === 0)
    // determinism: a second export with different input partitioning
    // produces identical shard membership
    graft.ops.Sinks.exportShards(ev.repartition(3), "user_id",
      Seq("user_id", "ts_ms"), 8, s"$out/b")
    def membership(p: String): Set[(Long, Long)] =
      spark.read.parquet(p).select(col("event_id"), col("__shard").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(membership(s"$out/a") === membership(s"$out/b"))
  }

  test("sealBatchStamped: collapses batch dirs, keeps rows + pruning layout, no-op when flat") {
    val base = tmpDir("seal") + "/rel"
    (0 until 3).foreach { b =>
      Seq((b.toLong * 10, "x"), (b.toLong * 10 + 1, "y")).toDF("id", "v")
        .withColumn("part", pmod(col("id"), lit(2)))
        .withColumn("__batch_id", lit(b.toLong))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("part", "__batch_id").parquet(base)
    }
    val before = spark.read.parquet(base)
      .select("id", "v", "part").orderBy("id")
      .collect().map(_.toString).toSeq
    assert(Sinks.sealBatchStamped(spark, base, Some("part")))
    val flatRead = spark.read.parquet(base)
    // stamp gone from schema AND from the directory tree; pruning
    // dirs (part=K) survive
    assert(!flatRead.columns.contains("__batch_id"))
    val partDirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("part="))
    assert(partDirs.length === 2)
    assert(!partDirs.exists(_.listFiles().exists(_.getName.startsWith("__batch_id="))))
    assert(flatRead.select("id", "v", "part").orderBy("id")
      .collect().map(_.toString).toSeq === before)
    // idempotent entry point: an already-flat relation is a no-op
    assert(!Sinks.sealBatchStamped(spark, base, Some("part")))
    // missing path is a no-op too
    assert(!Sinks.sealBatchStamped(spark, base + "_nope", None))
  }

  test("sealBatchStamped: a concurrent stamped append aborts the seal and restores the original") {
    val base = tmpDir("sealrace") + "/rel"
    def appendBatch(b: Long): Unit =
      Seq((b * 10, "x"), (b * 10 + 1, "y")).toDF("id", "v")
        .withColumn("part", pmod(col("id"), lit(2)))
        .withColumn("__batch_id", lit(b))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("part", "__batch_id").parquet(base)
    (0L until 2L).foreach(appendBatch)
    // inject an append into the snapshot→park window (the quiesce
    // violation the guard exists for): the seal must throw, NOT
    // install a flat rewrite that silently drops batch 2
    val e = intercept[IllegalStateException] {
      Sinks.sealBatchStampedImpl(spark, base, Some("part"), () => appendBatch(2L))
    }
    assert(e.getMessage.contains("quiesce"))
    // original restored WITH the concurrently appended batch intact
    val after = spark.read.parquet(base)
    assert(after.columns.contains("__batch_id"))
    assert(after.count() === 6)
    // and once ingest is actually quiet, the re-seal succeeds with
    // every batch's rows present
    assert(Sinks.sealBatchStamped(spark, base, Some("part")))
    assert(spark.read.parquet(base).count() === 6)
  }

  test("installMemo: race loser deletes its staging, winner's memo survives; nested staging repaired") {
    val base = tmpDir("memoinstall")
    val dst = new org.apache.hadoop.fs.Path(s"$base/memo")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // winner installs first
    Seq((1L, "winner")).toDF("id", "who").write.parquet(dst.toString)
    // loser stages its own build and calls installMemo: the memo
    // contract says the loser's content is identical, but the TEST
    // writes distinguishable rows to prove which install survived
    val staging = new org.apache.hadoop.fs.Path(s"$base/memo__tmp_loser")
    Seq((1L, "loser")).toDF("id", "who").write.parquet(staging.toString)
    Sinks.installMemo(fs, staging, dst)
    assert(!fs.exists(staging), "loser staging must be deleted")
    val rows = spark.read.parquet(dst.toString).collect()
    assert(rows.length === 1 && rows.head.getString(1) === "winner")
    // the local-FS rename-onto-existing fallback failure mode: a
    // racing session killed mid-copy leaves its staging NESTED inside
    // the installed memo — the read-side repair must drop it before
    // parquet discovery reads garbage at two directory depths
    val nested = new org.apache.hadoop.fs.Path(dst, "memo__tmp_dead")
    fs.mkdirs(nested)
    val out = fs.create(new org.apache.hadoop.fs.Path(nested, "junk.parquet"))
    out.write(Array[Byte](9, 9, 9)); out.close()
    Sinks.repairNestedStaging(fs, dst)
    assert(!fs.exists(nested), "nested staging must be repaired away")
    val rows2 = spark.read.parquet(dst.toString).collect()
    assert(rows2.length === 1 && rows2.head.getString(1) === "winner")
    // genuine failure (no winner, rename refused): must THROW, never
    // leave the caller probing a nonexistent memo as an empty answer
    val badDst = new org.apache.hadoop.fs.Path(s"$base/nope/deep/memo")
    val ghost = new org.apache.hadoop.fs.Path(s"$base/ghost_staging")
    intercept[java.io.IOException] {
      Sinks.installMemo(fs, ghost, badDst) // staging doesn't even exist
    }
  }

  test("readVersionedAt: pinned reads survive flips; pruned and incomplete versions fail loud") {
    val root = tmpDir("timetravel")
    val v1 = Sinks.commitVersion(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v2 = Sinks.commitVersion(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // live follows the pointer; the pinned read holds the OLD state
    assert(Sinks.readVersioned(spark, root).count() === 3L)
    assert(Sinks.readVersionedAt(spark, root, v1).count() === 2L)
    assert(Sinks.readVersionedAt(spark, root, v2).count() === 3L)
    // a crashed commit's torso (no _SUCCESS) is never readable state
    val torso = new java.io.File(Sinks.versionDir(root, 9))
    torso.mkdirs()
    java.nio.file.Files.write(torso.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    intercept[java.io.IOException] {
      Sinks.readVersionedAt(spark, root, 9)
    }
    new java.io.File(torso, "part-junk.parquet").delete(); torso.delete()
    // retention knob: keep=2 preserves BOTH complete versions (the
    // N-version time-travel window) while removing the torso
    val v3 = Sinks.commitVersion(spark, root,
      Seq((1L, "a"), (4L, "d")).toDF("id", "v"))
    Sinks.pruneVersions(spark, root, keep = 2)
    val e0 = intercept[java.io.FileNotFoundException] {
      Sinks.readVersionedAt(spark, root, v1) // outside the window
    }
    assert(e0.getMessage.contains("pruneVersions"), e0.getMessage)
    assert(Sinks.readVersionedAt(spark, root, v2).count() === 3L)
    assert(Sinks.readVersionedAt(spark, root, v3).count() === 2L)
    // prune retires v2: the pinned read fails LOUD naming the live
    // version — never a silent substitution of current data
    Sinks.pruneVersions(spark, root)
    val e = intercept[java.io.FileNotFoundException] {
      Sinks.readVersionedAt(spark, root, v2)
    }
    assert(e.getMessage.contains("pruneVersions") &&
      e.getMessage.contains(s"v=$v3"), e.getMessage)
    assert(Sinks.readVersionedAt(spark, root, v3).count() === 2L)
  }

  test("Bench.sweepScratch removes dead graft scratch; memos, sf replicas and lease state survive") {
    // round-16 verdict item 9: driver bench records must never pay
    // the directory-listing tax of debris left by killed JVMs.
    val root = java.nio.file.Files.createTempDirectory("graft_sweep_spec")
    def mkdir(n: String): java.nio.file.Path = {
      val d = root.resolve(n)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-0000.parquet"),
        Array[Byte](1, 2, 3))
      d
    }
    val scratch = mkdir("graft_q87_index__root_testdata_app-123")
    val crash = mkdir("graft_crash4567")
    val memo = mkdir("graft_ann_stamped_memo__root_x_s00ff_b3")
    val replica = mkdir("graft_sf1_hotdocs")
    val other = mkdir("duckdb_scratch")
    val lease = root.resolve("graft_idx__lease")
    java.nio.file.Files.write(lease, "op=x pid=1 host=h".getBytes("UTF-8"))
    val reclaim = root.resolve("graft_idx__lease.__reclaim_1_2_3")
    java.nio.file.Files.write(reclaim, "op=x".getBytes("UTF-8"))
    val swept = Bench.sweepScratch(root.toString)
    assert(swept.toSet === Set(scratch, crash).map(_.getFileName.toString),
      swept)
    assert(!java.nio.file.Files.exists(scratch) &&
      !java.nio.file.Files.exists(crash))
    // live shared state untouched, including its contents
    assert(java.nio.file.Files.exists(memo.resolve("part-0000.parquet")))
    assert(java.nio.file.Files.exists(replica))
    assert(java.nio.file.Files.exists(other))
    assert(java.nio.file.Files.exists(lease) &&
      java.nio.file.Files.exists(reclaim))
  }

  test("observedPin: the pin's observed counts equal count(), upstream observations included") {
    val df = spark.range(1000).toDF("id")
    val (up, oUp) = Sinks.observed(df)
    val kept = up.filter(col("id") % 2 === 0)
    val (pinned, o) = Sinks.observedPin(kept,
      count(when(col("id") % 4 === 0, 1)).as("quads"))
    // all three counts are filled by the pin's own job — no action
    // has run on `pinned` yet. A lazy pin would read 0 for good here.
    assert(Sinks.observedCount(oUp) === df.count())
    assert(Sinks.observedCount(o) === kept.count())
    assert(Sinks.observedCount(o, "quads") ===
      kept.filter(col("id") % 4 === 0).count())
    assert(pinned.count() === 500L)
    // an observation the optimizer pruned (beneath an inner join whose
    // other side is empty) reports nothing: the reader fails loud
    // rather than reading it as 0
    val (side, oSide) = Sinks.observed(df)
    Sinks.observedPin(side.join(df.filter(col("id") < 0), "id"))
    val e = intercept[IllegalStateException](Sinks.observedCount(oSide))
    assert(e.getMessage.contains("no count 'n'"))
  }

}
