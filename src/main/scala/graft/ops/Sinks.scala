package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalProperties

/** Production sink patterns for the 100 TB append-only log — the
  * operational half of the reference's load step (upload_to_snowflake
  * .py staged PUT + COPY INTO swap), re-expressed as Spark-native
  * idempotent writes. These are library surface (sinks are smoke-
  * verified like q02/q03; there is no row-level oracle for IO).
  */
object Sinks {

  /** Idempotent partition overwrite: re-running a batch replaces ONLY
    * the partitions the batch touches (dynamic partitionOverwriteMode),
    * leaving every other date directory intact. This is the Spark
    * analogue of the reference's replace-batch semantics — the
    * latest-ETL swap — and the property that makes retries safe at
    * scale: a failed/replayed day never duplicates rows and never
    * clobbers other days.
    *
    * The pre-write `repartition(n, partCol)` co-locates each partition
    * value so a day writes one file, not #tasks files — with an
    * EXPLICIT task count (defaultParallelism): a bare column
    * repartition lets AQE coalesce a small exchange to ONE task that
    * writes every partition directory serially (round-13 measured).
    * At 100 TB size n to bound file size per day instead.
    */
  def overwritePartitions(df: DataFrame, path: String, partCol: String): Unit =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(partCol))
      .write.mode("overwrite")
      // per-write option, not session conf: concurrent writers on the
      // same session keep their own overwrite semantics
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** Training-shard export: write AT MOST `nShards` shard=K parquet
    * directories, rows assigned by a DETERMINISTIC key hash (stable
    * across runs, partitionings and task retries — the same rule as
    * every shuffle key in this library) and sorted within each shard
    * by `orderCols`. This is the hand-off a sequential training
    * consumer wants: reproducible shard membership for resumable
    * epochs, local ordering for curriculum/session contiguity,
    * bounded shard count for the data-loader fan-in. One range-free
    * shuffle + in-partition sort — no global ordering is paid for.
    * Contract note: a shard value no row hashes to produces NO
    * directory (parquet writes nothing for empty partitions) — a
    * realistic concern only when nShards approaches the row count,
    * but a fan-in reader must iterate the directories it FINDS, not
    * assume ids 0..nShards-1 all exist.
    */
  def exportShards(df: DataFrame, shardKey: String,
      orderCols: Seq[String], nShards: Int, path: String,
      dropCols: Seq[String] = Nil): Unit = {
    // shard id is an EXPLICIT partition value (shard=K directories),
    // not a task index: a plain repartition(n, expr) re-hashes the
    // expression so shard→task is opaque and empty tasks silently
    // drop shards. The directory layout also gives readers shard
    // pruning. Sort keys start with the shard so a task holding
    // several shards still writes each directory's file in order.
    // dropCols lets a caller sort by a helper column (e.g. a shuffle
    // gate) without shipping it in the released files: the projection
    // sits above the sort with no exchange, so within-partition order
    // is preserved while the written schema stays clean.
    // shard = the q102 md5-gate rule (first two hex digits of
    // md5(key) read base-16, mod nShards) — ONE deterministic shard
    // convention across the engine, and one any OTHER engine can
    // reproduce (md5 is universal; xxhash64 is Spark-private), which
    // is what lets q126 hash-gate the released shard assignment
    // against a DuckDB twin.
    val sorted = df
      .withColumn("__shard", pmod(
        conv(substring(md5(col(shardKey).cast("string")), 1, 2), 16, 10)
          .cast("int"), lit(nShards)))
      // EXACTLY nShards partitions — one writer per shard, one file
      // per shard dir (the declared layout); explicit count so AQE
      // neither coalesces the shards into one serial writer nor
      // splits a shard across files
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions(("__shard" +: orderCols).map(col): _*)
    dropCols.foldLeft(sorted)(_ drop _)
      .write.mode("overwrite").partitionBy("__shard").parquet(path)
  }

  /** Small-file compaction: rewrite a partitioned dataset so each
    * partition directory holds ~`targetRowsPerFile` rows per file
    * (computed per partition from actual counts — a skewed hot date
    * gets more files, a sparse date gets one). The operational fix
    * for the #tasks×#partitions small-file explosion that kills
    * NameNode/listing performance at scale. Reads and rewrites once;
    * per-partition file counts derive from a counts aggregate that is
    * bounded by #distinct partition values.
    */
  def compact(spark: SparkSession, path: String, partCol: String,
      targetRowsPerFile: Long = 1000000L): Unit = {
    val fs = fsFor(spark, path)
    val dst = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    // a kill between the two renames of an earlier compact left the
    // live data parked: restore it before reading
    recoverInterrupted(fs, dst, "compact")
    writeChecked(spark,
      budgeted(spark.read.parquet(path), partCol, targetRowsPerFile),
      swapTmp(dst, "compact").toString, "compact", path)(
      _.write.mode("overwrite").partitionBy(partCol).parquet(_))
    // On object stores renames are copies and readers can observe the
    // gap between the swap's two renames: use [[compactVersioned]]
    // there, which replaces the swap with a versioned prefix + one-file
    // manifest flip.
    swapInstall(fs, dst, "compact")
  }

  /** Shared rewrite plan for [[compact]]/[[compactVersioned]]: `df`
    * shuffled into per-partition file budgets (ceil(cnt / target)
    * files each, skewed hot partitions get more, sparse ones get one),
    * to be written partitioned by `partCol`. The bucket MUST be a
    * deterministic function of row content (never
    * monotonically_increasing_id): a partial map-stage retry
    * re-evaluates it, and a value that changes across attempts
    * duplicates/drops rows in the rewrite. Hash only hash-supported
    * columns (maps are unhashable since Spark 3 — same guard as
    * Skew.rowSalt).
    */
  private def budgeted(df: DataFrame, partCol: String,
      targetRowsPerFile: Long): DataFrame = {
    // lazy pin: the broadcast build inside the write is the
    // materializing pass (a broadcast collects every partition), so
    // the pin costs no separate checkpoint job (round-18, §2.6)
    val counts = df.groupBy(col(partCol).as("__part"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint(false)
    val hashCols = df.schema.fields
      .filter(f => Skew.hashSupported(f.dataType)).map(f => col(f.name))
    // refuse rather than degrade: a constant bucket would collapse
    // every partition to ONE file — the size contract compaction
    // exists to enforce. (Contrast Skew.rowSalt, where a degenerate
    // constant salt is still CORRECT; here the file layout IS the
    // output.)
    require(hashCols.nonEmpty,
      "compact: no hash-supported columns to bucket rows by " +
        "(all-map schema?) — project a hashable key column first")
    val rowHash = xxhash64(hashCols.toIndexedSeq: _*)
    // null-safe: a NULL partition value (__HIVE_DEFAULT_PARTITION__)
    // is a group too, and an equi-join would drop its rows before the
    // checked write could count them
    df.join(broadcast(counts), col(partCol) <=> col("__part"))
      .withColumn("__files", ceil(col("cnt").cast("double") / lit(targetRowsPerFile.toDouble)).cast("int"))
      .withColumn("__bucket", pmod(rowHash, col("__files").cast("long")))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(partCol), col("__bucket"))
      .drop("__part", "cnt", "__files", "__bucket")
  }

  /** The one checked rewrite: write `df` to `out` with `write`, then
    * show that the written files hold every row the write consumed
    * before any caller installs them. The row count rides the write
    * as an Observation placed directly on the frame handed to
    * `write` (above any shuffle, so AQE never prunes it), and `out`
    * is read back with `df`'s own schema, so the check runs no
    * schema-inference job. On a mismatch `out` is deleted and an
    * IOException names `op` and the untouched `target`. Returns the
    * row count; 0 is the caller's "emptied" signal.
    */
  private[graft] def writeChecked(spark: SparkSession, df: DataFrame,
      out: String, op: String, target: String)(
      write: (DataFrame, String) => Unit): Long = {
    val (counted, obs) = observed(df)
    write(counted, out)
    afterCheckedWrite.get()(out)
    val expected = observedCount(obs)
    val actual = spark.read.schema(df.schema).parquet(out).count()
    if (actual != expected) {
      fsFor(spark, out).delete(new org.apache.hadoop.fs.Path(out), true)
      throw new java.io.IOException(
        s"$op: rewrite has $actual rows, expected $expected; aborted with $target untouched")
    }
    actual
  }

  /** Test seam: runs on each [[writeChecked]] output between its write
    * and its read-back — a spec plants a lost part file here to show
    * the check refuses the install. A ThreadLocal, so it reaches only
    * the sites that call [[writeChecked]] on the setting thread
    * ([[compact]], [[compactVersioned]], [[commitVersion]], the seal);
    * the [[bFuture]] sites (retrain, the id and BM25 apply-deletes)
    * never see it.
    */
  private[graft] val afterCheckedWrite = new ThreadLocal[String => Unit] {
    override def initialValue(): String => Unit = _ => ()
  }

  // -- versioned table (object-store-safe commit) -------------------
  //
  // Layout:   root/v=1/  root/v=2/  ...   root/MANIFEST
  // MANIFEST is ONE small file whose entire content is the live
  // version number. Commit = write the full new version under a fresh
  // v=N+1/ prefix, validate it, then flip the manifest — a single-
  // object replace, which object stores make atomic (readers see the
  // old pointer or the new one, never a torn directory). Old version
  // directories stay on disk untouched until [[pruneVersions]], so a
  // reader that resolved the manifest BEFORE the flip keeps reading a
  // complete, immutable dataset for as long as the grace window
  // allows. Single-writer discipline is assumed (no CAS on the
  // manifest): concurrent committers need an external lock, same as
  // any manifest-pointer table format.

  private[graft] def fsFor(spark: SparkSession, p: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)

  /** Every file under `p` (or `p` itself when it is a file), by plain
    * `listStatus` recursion, lazily: an `exists` stops listing at its
    * first match. Never `fs.listFiles`: each `LocatedFileStatus` it
    * builds loads the file's permissions, which the local filesystem
    * does without libhadoop by forking an `ls -ld` per file. A plain
    * `FileStatus` never loads them. The checksum filesystem's listing
    * hides `.crc` files, as `listFiles` does.
    */
  private[graft] def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).iterator.flatMap { st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Iterator.single(st)
    }

  /** Pin `df` in executor storage with its row count riding the pin's
    * own job: an eager `localCheckpoint()` over `df.observe(count(*)
    * as "n", extra*)`, so the count costs no second action (the
    * commitVersion observe rule applied to pins). The same job also
    * completes every Observation placed upstream in `df`'s plan.
    *
    * Two rules keep such counts exact on this Spark. The pin is EAGER:
    * an Observation on a lazy `localCheckpoint(false)` fires when the
    * pin is built, reads n = 0 and never updates when a later action
    * materializes it. And an upstream Observation must sit in the
    * pin's own stage and reach it through unary operators only. One
    * beneath a join is pruned with the join when a side is empty; one
    * below a shuffle is pruned with its stage when AQE finds that
    * stage empty; one on a relation both sides of a self-join read is
    * counted once per side.
    */
  private[graft] def observedPin(df: DataFrame,
      extra: org.apache.spark.sql.Column*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val (counted, obs) = observed(df, extra: _*)
    (counted.localCheckpoint(), obs)
  }

  /** `df` under an Observation of its row count ("n") and `extra`,
    * filled by whatever action later runs it — for [[observedPin]] and
    * for counts upstream of one (see its placement rules).
    */
  private[graft] def observed(df: DataFrame,
      extra: org.apache.spark.sql.Column*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n"), extra: _*), obs)
  }

  /** The Long metric `name` of a completed Observation. Fails loud when
    * it is absent: an Observation whose subtree the optimizer pruned
    * completes with an EMPTY map, which must never read as 0.
    */
  private[graft] def observedCount(obs: org.apache.spark.sql.Observation,
      name: String = "n"): Long =
    obs.get.get(name) match {
      case Some(n: Long) => n
      case other => throw new IllegalStateException(
        s"observation ${obs.name} has no count '$name' ($other)")
    }

  /** Collapse a batch-stamped relation (`.../__batch_id=<b>/`
    * subdirectories, the replay-safe streaming-append layout) into
    * its flat form: drop the stamp column, rewrite partitioned by the
    * leading pruning column only, validate row count, then swap with
    * the [[compact]] park-rename discipline (the live directory is
    * never in a half-written state). This is the QUIESCE-time
    * compaction for streaming-ingested indexes — per-micro-batch
    * directories are the right write-side layout (replays rewrite
    * exactly their own dirs) but accumulate one directory per batch
    * per partition, which at 100 TB is NameNode/listing pressure with
    * no read-side benefit once ingest stops. Sealing RETIRES the
    * streaming checkpoint: a sealed relation must only be extended
    * with flat appends (or a new stamped index), never by replaying
    * old batch ids — the stamped and flat layouts don't mix.
    *
    * Returns false (no-op) when the path doesn't exist or is already
    * flat, so callers can seal unconditionally.
    *
    * Quiesce violations FAIL LOUDLY instead of losing data silently:
    * the set of `__batch_id=` directories is snapshotted before the
    * rewrite reads and re-listed just after the park-rename — a
    * stamped append that landed in between (a writer that wasn't
    * actually quiesced) makes the two listings differ, and the seal
    * restores the parked directory and throws rather than install a
    * flat rewrite that silently discards the new batch.
    */
  def sealBatchStamped(spark: SparkSession, path: String,
      leadingPart: Option[String] = None): Boolean =
    sealBatchStampedImpl(spark, path, leadingPart, () => ())

  /** [[sealBatchStamped]] with a test seam: `afterSnapshot` runs
    * between the stamped-directory snapshot and the park-rename — the
    * window a quiesce-violating concurrent append would land in. The
    * spec injects an append there to pin the guard's abort+restore
    * behavior, which no external caller could otherwise trigger
    * deterministically.
    */
  private[graft] def sealBatchStampedImpl(spark: SparkSession, path: String,
      leadingPart: Option[String], afterSnapshot: () => Unit): Boolean = {
    val fs = fsFor(spark, path)
    val dst = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    // Crash recovery at entry — the documented "call unconditionally"
    // contract must also CLEAN UP after an interrupted earlier seal:
    // killed between park and install, the live data is restored and
    // re-sealed; killed after install, the parked pre-seal copy goes
    // (the early already-flat return below would otherwise leave it
    // parked forever).
    recoverInterrupted(fs, dst, "seal")
    if (!fs.exists(dst)) return false
    // snapshot the stamped-directory set BEFORE the read pins its file
    // listing — compared again after the park to catch a concurrent
    // append. Snapshot-first ordering matters: a batch landing between
    // this listing and the read below shows up in the post-park diff
    // (conservative abort); the reverse ordering would let it slip
    // into neither the rewrite nor the guard.
    val preBatches = listBatchDirs(fs, dst)
    // no `__batch_id=` dir: already flat, or file-less (an ingest whose
    // every batch was empty writes _SUCCESS but no parts) — nothing to
    // seal, decided from the listing without a Spark job
    if (preBatches.isEmpty) return false
    val flat = spark.read.parquet(path).drop("__batch_id")
    afterSnapshot()
    // the source is only renamed away AFTER the checked write completes
    writeChecked(spark,
      leadingPart.fold(flat)(c =>
        flat.repartition(spark.sparkContext.defaultParallelism, col(c))),
      swapTmp(dst, "seal").toString, "seal", path) { (d, out) =>
      leadingPart.fold(d.write)(d.write.partitionBy(_))
        .mode("overwrite").parquet(out)
    }
    // Concurrent-append check AFTER the park: the parked directory is
    // the final pre-install state, so any __batch_id= directory that
    // appeared (or changed) since the pre-rewrite snapshot is a batch
    // the flat rewrite does NOT contain — installing would silently
    // discard it. The swap restores and rethrows instead; the caller
    // re-seals once ingest is actually quiesced.
    swapInstall(fs, dst, "seal", afterPark = { parked =>
      val postBatches = listBatchDirs(fs, parked)
      if (postBatches != preBatches) {
        val changed = (postBatches.keySet ++ preBatches.keySet)
          .filter(k => preBatches.get(k) != postBatches.get(k))
        throw new IllegalStateException(
          s"seal: stamped batches changed under $path during the seal " +
            s"(${changed.mkString(", ")}) — " +
            "quiesce ingest before sealing; original restored")
      }
    })
    true
  }


  /** Seal several INDEPENDENT batch-stamped directories concurrently
    * (two driver threads submitting Spark jobs — the q129 concurrency
    * note): each [[sealBatchStamped]] swap owns its own directory, so
    * nothing is shared between the seals and wall cost is the slowest
    * one instead of the sum. Exceptions from either seal propagate,
    * once every seal has stopped ([[awaitAllOrThrow]]).
    */
  def sealBatchStampedAll(spark: SparkSession,
      targets: Seq[(String, Option[String])]): Unit =
    awaitAllOrThrow(targets.map { case (path, part) =>
      bFuture { sealBatchStamped(spark, path, part) }
    })

  /** The validated rewrite of swap `tag` is written here, beside
    * `dst`: `<dst>__<tag>_tmp`.
    */
  private[graft] def swapTmp(dst: org.apache.hadoop.fs.Path,
      tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${dst}__${tag}_tmp")

  /** Where swap `tag` parks the live `dst`: `<dst>__<tag>_old`. */
  private def swapOld(dst: org.apache.hadoop.fs.Path,
      tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${dst}__${tag}_old")

  /** Park-rename install of the fully-built replacement at
    * [[swapTmp]]`(dst, tag)` — the one swap of every whole-directory
    * rewrite (compact, seal, retrain, apply-deletes): park the live
    * `dst` at `<dst>__<tag>_old`, run `afterPark` on the parked copy,
    * rename tmp into place, drop the parked copy. When `afterPark`
    * throws (the seal's concurrent-append guard) or the install
    * rename fails, the parked copy is restored and tmp dropped. The
    * caller has already VALIDATED tmp ([[writeChecked]]) — this only
    * owns the never-half-written swap. Callers also run
    * [[recoverInterrupted]] with the same tag at entry, so a crash
    * between the two renames is repaired on the next attempt.
    */
  private[graft] def swapInstall(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, tag: String,
      afterPark: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit = {
    val tmp = swapTmp(dst, tag)
    val trash = swapOld(dst, tag)
    // fencing: a holder displaced by a TTL reclaim fails loud HERE,
    // before the swap mutates shared state, and drops its validated
    // rewrite so the displaced attempt leaves the index as it found it
    try assertLeasesStillOwned(s"$tag($dst)")
    catch { case e: IllegalStateException => fs.delete(tmp, true); throw e }
    fs.delete(trash, true)
    if (!fs.rename(dst, trash))
      throw new java.io.IOException(s"$tag: could not park $dst")
    def restore(): Unit =
      if (!fs.rename(trash, dst))
        throw new java.io.IOException(
          s"$tag: restore of $dst failed — data parked at $trash")
    try afterPark(trash)
    catch { case e: Throwable => restore(); fs.delete(tmp, true); throw e }
    if (!fs.rename(tmp, dst)) {
      restore()
      throw new java.io.IOException(
        s"$tag: rename $tmp -> $dst failed; original restored")
    }
    fs.delete(trash, true)
  }

  /** Entry-time crash recovery for [[swapInstall]]`(…, tag)`: if `dst`
    * is gone but its parked copy exists (killed between the two
    * renames), restore it; then clear any stale parked/tmp
    * directories.
    */
  private[graft] def recoverInterrupted(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, tag: String): Unit = {
    val trash = swapOld(dst, tag)
    if (!fs.exists(dst) && fs.exists(trash)) {
      if (!fs.rename(trash, dst))
        throw new java.io.IOException(
          s"recoverInterrupted: could not restore $dst from $trash")
    }
    fs.delete(trash, true)
    fs.delete(swapTmp(dst, tag), true)
  }

  /** Future on the global pool with a `blocking` marker — every
    * concurrent driver-thread job chain in this library BLOCKS on a
    * Spark action, and the fixed-size global fork-join pool must be
    * told so (ManagedBlocker grows it); without the marker, a chain
    * submitted from code already running on the pool (the hybrid
    * probe's lex/ann legs) can starve or deadlock on low-core
    * machines (round-14 advice).
    *
    * The body runs with the SUBMITTING thread's held leases, so a
    * chain forked under a lease re-enters it and its destructive steps
    * are fenced ([[assertLeasesStillOwned]]) like the holder's own. It
    * also runs with a snapshot of the submitter's Spark local
    * properties (job group, SQL execution ids): a pool thread would
    * otherwise keep those of whichever thread created it, filing its
    * jobs under an ended execution or another caller's job group.
    */
  private[graft] def bFuture[T](body: => T): scala.concurrent.Future[T] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val held = heldLeases.get
    val props = LocalProperties.capture()
    scala.concurrent.Future(scala.concurrent.blocking {
      val prev = heldLeases.get
      heldLeases.set(held)
      try LocalProperties.within(props)(body) finally heldLeases.set(prev)
    })
  }

  /** Barrier over concurrent driver-thread job chains that rethrows
    * only after EVERY chain has stopped running — Await.result/zipWith
    * fail fast and would let a caller's cleanup race a sibling chain's
    * in-flight write (the q129 rule). First failure wins the rethrow.
    */
  private[graft] def awaitAllOrThrow(fs: Seq[scala.concurrent.Future[_]]): Unit = {
    import scala.concurrent.duration.Duration
    val done = fs.map(f =>
      scala.concurrent.Await.ready(f, Duration.Inf).value.get)
    done.foreach { case scala.util.Failure(e) => throw e; case _ => () }
  }

  /** [[awaitAllOrThrow]] for chains that all write under one swap tmp
    * root: on a failure the whole `tmp` is deleted (every chain has
    * stopped by then) before the rethrow, so a refused or failed
    * rewrite leaves none of its siblings behind.
    */
  private[graft] def awaitAllOrDiscard(fs: org.apache.hadoop.fs.FileSystem,
      tmp: String, chains: Seq[scala.concurrent.Future[_]]): Unit =
    try awaitAllOrThrow(chains)
    catch { case e: Throwable =>
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true); throw e }

  /** Root directory for PERSISTED index and memo state — every
    * `graft_*_index_` / `graft_*_memo_` path builder and the
    * signature-keyed memo GC resolve against this one root, so a real
    * deployment can point it at durable shared storage
    * (`SPARK_GRAFT_INDEX_ROOT`, or the `graft.index.root` system
    * property for in-JVM overrides/tests) while the default —
    * `java.io.tmpdir` — keeps the harness behavior unchanged. The
    * reference keeps the equivalent state inside its warehouse
    * (reference: metaflow_intent/snowflake_client.py:22-30); an index
    * that must survive reboots and be shared across drivers cannot
    * live under a JVM's tmpdir.
    *
    * Scope note: the DECLARED queries' per-run scratch dirs
    * ([[Scratch]], `graft_<tag>_<dir>_<appId>`) live under this root
    * too. [[Scratch.run]] removes each one on success and on failure;
    * only a killed JVM orphans its tree (and, rarely, a
    * `__lease`/`__reclaim` file). A deployment pointing this at
    * durable storage runs its REAL indexes at caller-chosen paths
    * through the library APIs and should sweep `*_<appId>` debris of
    * dead applications on its own retention schedule (app-scoped
    * paths are never revisited, so sweeping them is always safe).
    */
  private[graft] def indexRoot: String =
    // each source filtered for emptiness BEFORE orElse — an empty
    // -Dgraft.index.root= (a wrapper interpolating an unset shell
    // var) must not shadow a valid env var into the tmpdir fallback
    sys.props.get("graft.index.root").filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_ROOT").filter(_.nonEmpty))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .stripSuffix("/")

  /** Whether `path` exists and holds a data file, decided from a
    * listing with Spark's hidden-path rule: names starting with `_` or
    * `.` are not data, except `=` partition dirs, so `_SUCCESS` and
    * `_temporary` debris alone hold no data.
    */
  private[graft] def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    def hasData(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !(n.startsWith(".") || n.startsWith("_") && !n.contains("=")) &&
          (!st.isDirectory || hasData(st.getPath))
      }
    val root = new org.apache.hadoop.fs.Path(path)
    fs.exists(root) && hasData(root)
  }

  /** Read a parquet relation that may not exist yet (or may be a
    * file-less crash-orphaned directory) — None in both cases
    * ([[hasDataFiles]]), the one tolerated "nothing to read" of every
    * merge-on-read/validation path.
    */
  private[graft] def readParquetIfAny(spark: SparkSession,
      path: String): Option[DataFrame] =
    if (hasDataFiles(spark, path)) Some(spark.read.parquet(path)) else None

  /** Thread-local set of lease paths held by the CURRENT thread —
    * reentrancy support for [[withWriterLease]]: a seal's internal
    * apply-deletes re-enters the seal's own lease instead of
    * deadlocking on it.
    */
  private val heldLeases = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Where a root's writer lease lives — BESIDE the root (the
    * `__tomb` convention), so a retrain's whole-root [[swapInstall]]
    * cannot park-rename the lease away mid-hold.
    */
  private[graft] def leasePathOf(root: String): String =
    root.stripSuffix("/") + "__lease"

  /** Opt-in TTL (ms) for CROSS-HOST dead-holder lease recovery —
    * unset (the default) keeps the fail-loud contract: a foreign
    * host's lease always blocks until [[breakWriterLease]]. When set
    * (sysprop `graft.lease.ttl.ms` / env `SPARK_GRAFT_LEASE_TTL_MS`),
    * a waiter may reclaim a lease whose file has not been
    * heartbeat-refreshed for this long — the session-expiry semantics
    * the reference gets from its warehouse for free (reference:
    * metaflow_intent/snowflake_client.py:32-46). Must be set WELL
    * above [[leaseHeartbeatMs]] (minutes vs seconds): a live holder
    * whose heartbeat is merely delayed past the TTL loses its lease —
    * the inherent TTL-lease hazard, which is why this is opt-in.
    *
    * ENFORCED, not advisory (round-16 advice): a TTL below
    * [[MinTtlHeartbeats]] heartbeat periods is rejected loud at parse
    * — such a configuration makes any ordinary GC pause or FS hiccup
    * displace a LIVE holder, which is indistinguishable from data
    * corruption once two writers interleave. Holders additionally
    * re-verify ownership before every manifest flip and park-rename
    * swap ([[assertLeasesStillOwned]]), so a displaced writer fails
    * loud at its next destructive step instead of silently racing the
    * usurper.
    */
  private[graft] val MinTtlHeartbeats = 4L

  private[graft] def leaseTtlMs: Option[Long] =
    sys.props.get("graft.lease.ttl.ms").filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_LEASE_TTL_MS").filter(_.nonEmpty))
      .map(_.toLong).filter(_ > 0)
      .map { ttl =>
        val hb = leaseHeartbeatMs
        require(ttl >= MinTtlHeartbeats * hb,
          s"lease TTL ${ttl}ms must be >= $MinTtlHeartbeats x the holder " +
            s"heartbeat period (${hb}ms): a tighter TTL displaces LIVE " +
            "holders on any GC pause or FS hiccup — raise the TTL or " +
            "lower graft.lease.heartbeat.ms")
        ttl
      }

  /** How often a holder refreshes its held lease files' mtimes (the
    * liveness signal TTL reclaim reads). Overridable for specs via
    * sysprop `graft.lease.heartbeat.ms`; read once at executor
    * lazy-init.
    */
  private def leaseHeartbeatMs: Long =
    sys.props.get("graft.lease.heartbeat.ms").filter(_.nonEmpty)
      .map(_.toLong).getOrElse(15000L)

  /** Test/ops hook: the host name written into holder strings —
    * sysprop `graft.lease.host.override` lets a spec simulate a
    * foreign-host holder without a second machine.
    */
  private def leaseHostName: String =
    sys.props.getOrElse("graft.lease.host.override",
      java.net.InetAddress.getLocalHost.getHostName)

  /** Leases currently held by THIS JVM (outer acquisitions only,
    * with their holder strings), refreshed by the heartbeat daemon so
    * TTL-configured waiters on other hosts can tell dead from alive —
    * and re-read by [[assertLeasesStillOwned]] so a displaced holder
    * fails loud before its next destructive step.
    */
  private final case class HeldLease(fs: org.apache.hadoop.fs.FileSystem,
      holder: String)
  private val heartbeatLeases = new java.util.concurrent.ConcurrentHashMap[
    String, HeldLease]()

  private lazy val leaseHeartbeatExec = {
    val period = leaseHeartbeatMs
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat")
        t.setDaemon(true); t
      })
    ex.scheduleWithFixedDelay(() => heartbeatLeases.forEach { (lp, h) =>
      // mtime-only refresh: no content rewrite, so a concurrent
      // reclaim's content verification is never perturbed; a lease
      // already released/reclaimed just misses (self-heals next tick)
      try h.fs.setTimes(new org.apache.hadoop.fs.Path(lp),
        System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    ex
  }

  /** Fencing check at destructive commit points (round-16 advice):
    * re-read every lease the CURRENT THREAD holds and require its
    * content to still be OUR holder string. A TTL reclaimer that
    * displaced us rewrote (or removed) the file, so the next manifest
    * flip / park-rename swap throws here instead of interleaving with
    * the usurper's writes. No lease held (plain non-lifecycle writes)
    * = no-op; cost is one tiny same-directory read per held lease per
    * destructive step (java.nio on the local scheme — the Hadoop
    * LocalFileSystem per-call overhead would tax every lifecycle
    * step).
    */
  private[graft] def assertLeasesStillOwned(context: String): Unit =
    heldLeases.get.foreach { lp =>
      Option(heartbeatLeases.get(lp)).foreach { h =>
        val p = new org.apache.hadoop.fs.Path(lp)
        val cur =
          try {
            if (h.fs.getScheme == "file")
              new String(java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(
                  p.toUri.getPath match { case null => lp; case q => q })),
                "UTF-8")
            else {
              val in = h.fs.open(p)
              val s = new String(
                org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
              in.close(); s
            }
          } catch { case _: java.io.IOException => "<missing>" }
        if (cur != h.holder)
          throw new IllegalStateException(
            s"$context: writer lease $lp is no longer ours — expected " +
              s"[${h.holder}], found [$cur]. A TTL reclaim displaced this " +
              "holder (stalled heartbeat past the TTL); aborting before " +
              "the destructive step so two writers never interleave")
      }
    }

  /** Fail-loud single-writer lease over an index/sink root — the
    * stand-in for the transactional layer the reference delegates to
    * its warehouse (reference: metaflow_intent/snowflake_client.py:32-46,
    * where concurrent DDL serializes inside Snowflake). Every
    * lifecycle MUTATION of persisted index/sink state — ingest
    * append, seal, retrain, takedown tombstone, physical apply,
    * versioned commit — runs under `withWriterLease(root)`; a second
    * writer's acquisition THROWS naming the holder instead of
    * silently interleaving park-rename swaps (two interleaved
    * [[swapInstall]]s can otherwise resurrect a parked directory).
    * Readers never take the lease: every mutation here is
    * crash-consistent behind a rename, so merge-on-read probes stay
    * lock-free.
    *
    * Acquisition is an atomic create-exclusive: CREATE_NEW via
    * java.nio on the local scheme (Hadoop's LocalFileSystem
    * create(overwrite=false) is check-then-act), HDFS-atomic
    * `create(p, false)` elsewhere. Reentrant per thread. The lease is
    * released in a finally — an operation that THREW releases too
    * (its state contract is crash-consistency, not the lease); only a
    * killed JVM orphans one, and that must be broken EXPLICITLY with
    * [[breakWriterLease]] after confirming the holder is dead —
    * fail-loud is the contract, this helper cannot tell dead from
    * slow.
    */
  def withWriterLease[T](spark: SparkSession, root: String, op: String)(
      body: => T): T =
    withWriterLease(fsFor(spark, leasePathOf(root)), root, op)(body)

  /** FileSystem-core of [[withWriterLease]] — also the entry point
    * for Spark-less lease holders (the cross-JVM race spec's worker).
    */
  private[graft] def withWriterLease[T](
      fs: org.apache.hadoop.fs.FileSystem, root: String, op: String)(
      body: => T): T =
    withWriterLease(fs, root, op, takeoverOf = None)(body)

  private def withWriterLease[T](
      fs: org.apache.hadoop.fs.FileSystem, root: String, op: String,
      takeoverOf: Option[String])(body: => T): T = {
    val lp = leasePathOf(root)
    if (heldLeases.get.contains(lp)) return body // reentrant
    val p = new org.apache.hadoop.fs.Path(lp)
    val holder = s"op=$op pid=${ProcessHandle.current().pid()} " +
      s"host=$leaseHostName " +
      s"since=${java.time.Instant.now()}" +
      // TTL takeovers are recorded in the lease file itself (audit
      // trail for the expired holder that was displaced); appended
      // LAST so the pid=/host= parses still read THIS holder
      takeoverOf.fold("")(old => s" ttl-takeover-of=[$old]")
    val acquired =
      if (fs.getScheme == "file") {
        try {
          val f = java.nio.file.Paths.get(
            p.toUri.getPath match { case null => lp; case path => path })
          Option(f.getParent)
            .foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(f, holder.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          val out = fs.create(p, false)
          out.write(holder.getBytes("UTF-8")); out.close(); true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException if fs.exists(p) => false
        }
      }
    if (!acquired) {
      val existing =
        try {
          val in = fs.open(p)
          val s = new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          in.close(); s
        } catch {
          case _: java.io.FileNotFoundException =>
            // the holder RELEASED between our failed create-exclusive
            // and this read — the lease is free now; retry instead of
            // throwing "held" about a lease that no longer exists
            return withWriterLease(fs, root, op)(body)
          case _: java.io.IOException => "<unreadable>"
        }
      // SAME-HOST dead-holder auto-reclaim: a JVM killed mid-mutation
      // orphans its lease, and without this a plain stream RESTART on
      // the same machine would fail loud until a manual
      // breakWriterLease — even though every mutation is
      // crash-consistent and the replay is exactly what should run.
      // Liveness is only checkable for a pid on THIS host
      // (ProcessHandle); a foreign host's lease always fails loud.
      // The reclaim is race-safe: the lease is first RENAMED to a
      // reclaimer-unique name (atomic — two concurrent reclaimers
      // cannot both win), its content is re-verified to be the same
      // orphan that was diagnosed (never a newer holder's lease),
      // then dropped; acquisition retries once either way.
      if (reclaimIfDead(fs, p, existing))
        return withWriterLease(fs, root, op)(body)
      // CROSS-HOST dead holder: pid liveness is unknowable from here,
      // so recovery is TTL-based and OPT-IN ([[leaseTtlMs]]) — a
      // lease not heartbeat-refreshed for a full TTL is reclaimed
      // through the same atomic rename-verify protocol, with the
      // takeover recorded in the new holder's lease file.
      if (reclaimIfExpired(fs, p, existing)) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"TTL-reclaimed expired writer lease on $root " +
            s"(displaced holder: $existing; new op: $op)")
        return withWriterLease(fs, root, op,
          takeoverOf = Some(existing))(body)
      }
      throw new IllegalStateException(
        s"writer lease on $root is held [$existing] while '$op' wants " +
          "it — lifecycle mutations are single-writer; wait for the " +
          "holder to finish, or break a lease orphaned by a DEAD JVM " +
          "with Sinks.breakWriterLease (for unattended multi-host " +
          "recovery, opt into TTL reclaim via SPARK_GRAFT_LEASE_TTL_MS)")
    }
    heldLeases.set(heldLeases.get + lp)
    heartbeatLeases.put(lp, HeldLease(fs, holder))
    leaseHeartbeatExec // first hold starts the daemon
    try body
    finally {
      heldLeases.set(heldLeases.get - lp)
      heartbeatLeases.remove(lp)
      // release ONLY our own acquisition (the holder string carries a
      // per-acquisition timestamp, so content equality identifies it):
      // if a misdiagnosing reclaimer snatched our lease and a third
      // writer acquired meanwhile, a blind delete here would free THAT
      // holder's lease and cascade the race — verify-then-delete
      // confines the damage to the reclaim window itself.
      try {
        val in = fs.open(p)
        val cur = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        if (cur == holder) fs.delete(p, false)
      } catch { case _: java.io.IOException => () } // already gone
    }
  }

  /** [[withWriterLease]]'s dead-holder check: true iff `existing`
    * names a pid on THIS host that is no longer alive AND this
    * process won the atomic rename-reclaim of exactly that lease
    * file. Any parse failure, foreign host, live pid, or lost rename
    * leaves the lease alone and returns false.
    */
  private def reclaimIfDead(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, existing: String): Boolean = {
    val pidR = "pid=([0-9]+)".r.findFirstMatchIn(existing).map(_.group(1))
    val hostR = "host=([^ ]+)".r.findFirstMatchIn(existing).map(_.group(1))
    val localHost = java.net.InetAddress.getLocalHost.getHostName
    val deadLocal = (pidR, hostR) match {
      case (Some(pid), Some(h)) if h == localHost =>
        !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
      case _ => false
    }
    if (!deadLocal) return false
    // re-read immediately before the rename: a concurrent reclaimer
    // may have already reclaimed AND a new holder acquired since our
    // caller's read — never rename a lease that no longer matches the
    // diagnosed orphan (shrinks the live-snatch window to the
    // read→rename instruction gap; the release-side verify-then-
    // delete confines whatever remains)
    val recheck =
      try {
        val in = fs.open(p)
        val s = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close(); s
      } catch { case _: java.io.IOException => return false }
    if (recheck != existing) return false
    // claim name unique PER ATTEMPT (pid + thread + nanos): two
    // threads of one JVM reclaiming concurrently must not share a
    // claim file, or one's delete destroys the other's mid-verify
    val claim = new org.apache.hadoop.fs.Path(
      p.toString + s".__reclaim_${ProcessHandle.current().pid()}_" +
        s"${Thread.currentThread().getId}_${System.nanoTime()}")
    if (!(try fs.rename(p, claim) catch { case _: java.io.IOException => false }))
      return false // someone else reclaimed, or the holder released
    val claimed =
      try {
        val in = fs.open(claim)
        val s = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close(); s
      } catch { case _: java.io.IOException => "<unreadable>" }
    if (claimed == existing) { fs.delete(claim, false); true }
    else {
      // the rename grabbed a NEWER lease written between our read and
      // the rename — put it back untouched
      fs.rename(claim, p); false
    }
  }

  /** [[withWriterLease]]'s TTL-expiry check: true iff TTL reclaim is
    * opted in ([[leaseTtlMs]]), the lease file's mtime (refreshed by
    * the holder's heartbeat) is at least one TTL old by the
    * FILESYSTEM's clock, and this process won the atomic
    * rename-reclaim of exactly the diagnosed lease. The filesystem
    * clock comes from a probe file's mtime (the memo-GC convention) —
    * on a remote store the server stamps both the heartbeat and the
    * probe, so cross-host client clock skew cancels out. The claim is
    * verified by CONTENT (same holder) and MTIME (no heartbeat landed
    * between the stat and the rename — rename preserves mtime, so a
    * refresh in that gap makes the claim look younger and the lease
    * is put back untouched).
    */
  private def reclaimIfExpired(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, existing: String): Boolean =
    leaseTtlMs.exists { ttl =>
      // a holder whose pid is PROVABLY alive on this host is never
      // TTL-displaced, however stale its heartbeat — liveness beats
      // expiry when it is actually checkable
      val provablyAlive = (for {
        pid <- "pid=([0-9]+)".r.findFirstMatchIn(existing).map(_.group(1))
        h <- "host=([^ ]+)".r.findFirstMatchIn(existing).map(_.group(1))
      } yield h == java.net.InetAddress.getLocalHost.getHostName &&
        ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
      ).getOrElse(false)
      if (provablyAlive) false
      else reclaimIfExpiredAt(fs, p, existing, ttl)
    }

  /** Filesystem schemes whose `rename` is ATOMIC and
    * MTIME-PRESERVING — the two properties the claim-verify step
    * below depends on. Object stores fail both (S3A rename =
    * copy+delete: not atomic, fresh mtime), so TTL reclaim there
    * would either never succeed (m2 != m1 always) or let two waiters
    * both pass the rename — gate it off entirely (round-16 advice)
    * and leave [[breakWriterLease]] as the recovery path.
    */
  private val ttlReclaimSchemes = Set("file", "hdfs", "viewfs")

  private def reclaimIfExpiredAt(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, existing: String, ttl: Long): Boolean =
    if (!ttlReclaimSchemes.contains(fs.getScheme)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"TTL lease reclaim is disabled on scheme '${fs.getScheme}' " +
          "(rename is not atomic/mtime-preserving there); recover a dead " +
          "holder's lease explicitly with Sinks.breakWriterLease")
      false
    } else {
      val m1 =
        try fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.IOException => -1L }
      if (m1 < 0) false // vanished: the caller's retry will re-acquire
      else {
        val probe = new org.apache.hadoop.fs.Path(
          Option(p.getParent).getOrElse(p),
          ".graft_lease_clock_probe_" + java.util.UUID.randomUUID().toString)
        // The probe mtime is the FILESYSTEM's clock — the same
        // authority that stamps the holder's heartbeats — so
        // cross-host client skew cancels. If the probe cannot be
        // created there is NO trustworthy clock; abort the attempt
        // (round-16 advice: falling back to the client clock would
        // reintroduce exactly the skew the probe exists to cancel,
        // letting a skewed client reclaim a freshly heartbeated
        // lease).
        val fsNow =
          try {
            fs.create(probe, true).close()
            fs.getFileStatus(probe).getModificationTime
          } catch { case _: java.io.IOException => -1L }
          finally {
            try fs.delete(probe, false)
            catch { case _: java.io.IOException => () }
          }
        if (fsNow < 0 || fsNow - m1 < ttl) false
        else {
          val claim = new org.apache.hadoop.fs.Path(
            p.toString + s".__reclaim_${ProcessHandle.current().pid()}_" +
              s"${Thread.currentThread().getId}_${System.nanoTime()}")
          if (!(try fs.rename(p, claim)
                catch { case _: java.io.IOException => false })) false
          else {
            val (content, m2) =
              try {
                val st = fs.getFileStatus(claim)
                val in = fs.open(claim)
                val s = new String(
                  org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
                  "UTF-8")
                in.close(); (s, st.getModificationTime)
              } catch {
                case _: java.io.IOException => ("<unreadable>", Long.MaxValue)
              }
            if (content == existing && m2 == m1) {
              fs.delete(claim, false); true
            } else {
              // a newer holder's lease, or a heartbeat landed in the
              // stat→rename gap (the holder is ALIVE): put it back
              fs.rename(claim, p); false
            }
          }
        }
      }
    }

  /** Manual recovery for a lease orphaned by a crashed holder (see
    * [[withWriterLease]]). Returns whether a lease file was removed.
    */
  def breakWriterLease(spark: SparkSession, root: String): Boolean =
    fsFor(spark, root).delete(
      new org.apache.hadoop.fs.Path(leasePathOf(root)), false)

  /** Recursive directory copy (src must exist; dst must not) — the
    * clone step of the memo-reusing lifecycle queries: a seal/retrain
    * demonstration MUTATES its index, so it works on a filesystem
    * copy of the shared read-only ingest memo rather than on the memo
    * itself. Local-FS cheap at demo scale; at 100 TB a real pipeline
    * seals its own index in place — the clone exists only so a
    * DECLARED query can exercise mutation without destroying shared
    * memo state.
    */
  private[graft] def copyDir(fs: org.apache.hadoop.fs.FileSystem,
      src: String, dst: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    fs.delete(d, true)
    // local-FS fast path: a partitioned index is hundreds of KB-scale
    // files and every Hadoop LocalFileSystem call pays ~10 ms of
    // checksum/stat overhead (a 68-file memo clone measured 0.65 s in
    // listFiles alone, ~1 s in FileUtil.copy — vs 13 ms for the same
    // tree via raw file ops). java.nio copies the tree, .crc shadows
    // included (bytes identical ⇒ checksums stay valid), in one walk.
    if (fs.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val sp = Paths.get(s.toUri.getPath)
      val dp = Paths.get(d.toUri.getPath)
      // missing source is a caller bug (cloning a memo that was never
      // ensured) — throw like FileUtil.copy did, never silently
      // install an empty clone
      if (!Files.exists(sp))
        throw new java.io.FileNotFoundException(s"copyDir: source $src")
      val walk = Files.walk(sp)
      try walk.forEach { p =>
        val to = dp.resolve(sp.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
      return
    }
    // remote stores: the copy is per-file-LATENCY-bound, not
    // byte-bound — enumerate once, copy with a bounded thread pool
    // (FileUtil.copy walks sequentially). Await ALL tasks before
    // rethrowing so no copy is mid-flight when a caller's failure
    // cleanup deletes dst.
    // enumerate DIRECTORIES as well as files (listStatus recursion):
    // FileUtil.copy creates a file's parents, but an empty
    // subdirectory inside an otherwise non-empty tree (an hs/ or
    // stats/ dir with no files yet) has no file to ride on and
    // exists()-gated readers would see a different state after the
    // clone (round-14 advice)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val dirs = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) { dirs += st.getPath; walk(st.getPath) }
        else files += st.getPath
      }
    walk(s)
    val srcUri = s.toUri.getPath
    fs.mkdirs(d)
    dirs.foreach { dir =>
      val rel = dir.toUri.getPath.stripPrefix(srcUri).stripPrefix("/")
      fs.mkdirs(new org.apache.hadoop.fs.Path(d, rel))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fts = files.map { f =>
        scala.concurrent.Future {
          val rel = f.toUri.getPath.stripPrefix(srcUri).stripPrefix("/")
          val to = new org.apache.hadoop.fs.Path(d, rel)
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, to, false, conf))
            throw new java.io.IOException(s"copyDir: copy $f -> $to failed")
        }
      }
      val done = fts.map(f => scala.concurrent.Await.ready(
        f, scala.concurrent.duration.Duration.Inf).value.get)
      done.foreach { case scala.util.Failure(e) => throw e; case _ => () }
    } finally pool.shutdown()
  }

  /** Root-relative path → CONTENT signature (file count, total bytes,
    * max mtime) of every `__batch_id=` directory under `root`
    * (stamped layouts are `part=<v>/__batch_id=<b>/` or
    * `__batch_id=<b>/`). The signature — not just the name set —
    * matters to the seal's concurrent-append guard: a quiesce
    * violation that REPLAYS an existing batch id changes no directory
    * names, only their contents, and must still be detected. Bounded
    * driver work: one recursive listing of the stamped tree.
    */
  private[graft] def listBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Map[String, (Long, Long, Long)] = {
    def walk(p: org.apache.hadoop.fs.Path,
        rel: String): Seq[(String, org.apache.hadoop.fs.Path)] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        val r = if (rel.isEmpty) name else s"$rel/$name"
        if (name.startsWith("__batch_id=")) Seq(r -> st.getPath)
        else walk(st.getPath, r)
      }
    walk(root, "").map { case (rel, p) =>
      val files = filesUnder(fs, p).toSeq
      rel -> ((files.size.toLong, files.map(_.getLen).sum,
        files.map(_.getModificationTime).foldLeft(0L)(math.max)))
    }.toMap
  }

  private def manifest(root: String) =
    new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "/MANIFEST")

  def versionDir(root: String, v: Long): String =
    root.stripSuffix("/") + s"/v=$v"

  /** Live version per the manifest; None for an uninitialized root. */
  def liveVersion(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val m = manifest(root)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Read the live version (the default read path — readers never
    * list version directories, they follow the pointer).
    */
  def readVersioned(spark: SparkSession, root: String): DataFrame = {
    val v = liveVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no MANIFEST under $root"))
    spark.read.parquet(versionDir(root, v))
  }

  /** PINNED-VERSION read (time travel): read version `v` exactly as
    * committed, regardless of where the manifest points now — the
    * reproducibility primitive a corpus consumer needs ("training run
    * X consumed corpus version N" must stay answerable after the next
    * flip; the reference gets this from Snowflake time travel,
    * reference: README.md:34-42's warehouse delegation). Fails LOUD,
    * never silently substitutes the live version:
    *   - a version directory that is gone (retired by
    *     [[pruneVersions]], or never committed) throws
    *     FileNotFoundException naming the live version — the caller
    *     chooses between pinning harder (longer retention) and
    *     re-deriving;
    *   - a directory without its `_SUCCESS` marker is a CRASHED
    *     commit that never reached the manifest flip — reading it
    *     would return a half-written state no reader was ever
    *     promised, so it throws too (commitVersion's count-validate
    *     deletes failed writes, but a JVM killed mid-write leaves
    *     the torso).
    * Retention contract: every version stays readable until
    * [[pruneVersions]] retires it; a deployment that needs N-version
    * time travel prunes with `keep = N` (the retention knob keeps the
    * N highest complete versions plus the live one).
    */
  def readVersionedAt(spark: SparkSession, root: String, v: Long): DataFrame = {
    val fs = fsFor(spark, root)
    val dir = versionDir(root, v)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p))
      throw new java.io.FileNotFoundException(
        s"version v=$v under $root does not exist — retired by " +
          s"pruneVersions or never committed (live: " +
          s"${liveVersion(spark, root).fold("none")(l => s"v=$l")})")
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      throw new java.io.IOException(
        s"version v=$v under $root is incomplete (no _SUCCESS marker): " +
          "a crashed commit that never reached the manifest flip — not " +
          "readable state")
    spark.read.parquet(dir)
  }

  /** Atomically point the manifest at `v`: write MANIFEST.tmp, then
    * FileContext rename with OVERWRITE (atomic on HDFS/local; on an
    * object store replace this with the store's single-PUT — one
    * object either way).
    */
  private def flipManifest(spark: SparkSession, root: String, v: Long): Unit = {
    // fencing: never flip a pointer after a TTL reclaim displaced us
    assertLeasesStillOwned(s"flipManifest($root -> v=$v)")
    val fs = fsFor(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "/MANIFEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, manifest(root), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Next version number: one past the max v= dir present (NOT live+1
    * — an aborted commit may have left an unreferenced higher dir,
    * which must never be reused for different data).
    */
  private def nextVersion(spark: SparkSession, root: String): Long = {
    val fs = fsFor(spark, root)
    val r = new org.apache.hadoop.fs.Path(root)
    val existing = if (!fs.exists(r)) Array.empty[Long]
      else fs.listStatus(r).map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
    if (existing.isEmpty) 1L else existing.max + 1L
  }

  /** Commit `df` as the next version of a versioned table and flip
    * the manifest. Returns the committed version number. The write is
    * validated ([[writeChecked]]) before the flip — a bad write is
    * removed and the pointer stays untouched, never a broken table.
    */
  def commitVersion(spark: SparkSession, root: String, df: DataFrame,
      partCol: Option[String] = None): Long =
    withWriterLease(spark, root, "commit-version") {
    val v = nextVersion(spark, root)
    writeChecked(spark,
      partCol.fold(df)(p =>
        df.repartition(spark.sparkContext.defaultParallelism, col(p))),
      versionDir(root, v), "commitVersion", s"the manifest of $root") {
      (d, out) => partCol.fold(d.write)(d.write.partitionBy(_)).parquet(out)
    }
    flipManifest(spark, root, v)
    v
  }

  /** Additive SCHEMA EVOLUTION on a versioned table: commit `df` —
    * whose schema may ADD columns relative to the live version — as
    * the next version holding live ∪ df, with pre-evolution rows
    * NULL-filled for the new columns (the warehouse
    * `ALTER TABLE ... ADD COLUMN` semantics the reference gets from
    * its warehouse for free; reference anchor: the dbt models evolve
    * additively over the same store,
    * src/dbt/models/shopping_events_exploded.sql). Non-additive
    * changes throw: a live column missing from `df` or carrying a
    * different type is a REWRITE, not an evolution — silently
    * coercing would corrupt committed history. On an uninitialized
    * root this is exactly [[commitVersion]]. The read-align-union-
    * commit runs under the root's writer lease (re-entered by the
    * inner commit), so an interleaved commit cannot lose rows; the
    * count-validate + manifest-flip crash contract is commitVersion's
    * own — a failed evolution leaves the old version live and intact.
    */
  def commitVersionEvolved(spark: SparkSession, root: String,
      df: DataFrame, partCol: Option[String] = None): Long =
    withWriterLease(spark, root, "commit-version-evolved") {
      liveVersion(spark, root) match {
        case None => commitVersion(spark, root, df, partCol)
        case Some(live) =>
          val cur = spark.read.parquet(versionDir(root, live))
          val curTypes = cur.schema.fields.map(f => f.name -> f.dataType).toMap
          val newTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
          val missing = curTypes.keySet -- newTypes.keySet
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"commitVersionEvolved: evolution is additive-only; live " +
              s"columns ${missing.toSeq.sorted.mkString(", ")} are absent " +
              s"from the new schema — dropping a column is a rewrite " +
              s"(commitVersion), not an evolution")
          val retyped = curTypes.collect {
            case (n, t) if newTypes(n) != t => s"$n: $t -> ${newTypes(n)}"
          }
          if (retyped.nonEmpty) throw new IllegalArgumentException(
            s"commitVersionEvolved: evolution is additive-only; " +
              s"${retyped.toSeq.sorted.mkString("; ")} changes a committed " +
              "column's type")
          val aligned = cur.select(df.schema.fields.toIndexedSeq.map { f =>
            if (curTypes.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
          commitVersion(spark, root, aligned.unionByName(df), partCol)
      }
    }

  /** [[compact]] for versioned tables — the object-store-safe form:
    * rewrite the live version's data with per-partition file budgets
    * into `v=N+1/`, validate, flip the manifest. No renames of data
    * files at all; readers holding the old manifest keep a complete
    * `v=N/` until [[pruneVersions]]. Returns the new version.
    */
  def compactVersioned(spark: SparkSession, root: String, partCol: String,
      targetRowsPerFile: Long = 1000000L): Long =
    withWriterLease(spark, root, "compact-versioned") {
    val live = liveVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no MANIFEST under $root"))
    val v = nextVersion(spark, root)
    writeChecked(spark, budgeted(spark.read.parquet(versionDir(root, live)),
        partCol, targetRowsPerFile),
      versionDir(root, v), "compactVersioned", s"the manifest of $root (v=$live)")(
      _.write.mode("overwrite").partitionBy(partCol).parquet(_))
    flipManifest(spark, root, v)
    v
  }

  /** Drop old version directories (call after the reader grace
    * window — e.g. the max query runtime — has passed). `keep` is the
    * TIME-TRAVEL RETENTION KNOB (round 17, the [[readVersionedAt]]
    * contract): the `keep` highest COMPLETE versions (by `_SUCCESS`
    * marker) survive, plus always the live one — so a deployment
    * that must answer "training run X consumed version N" for its
    * last N releases prunes with `keep = N` and pins reads within
    * that window. The default 1 is the original semantics: only the
    * live version remains. Crash torsos (no `_SUCCESS`) and
    * unreferenced directories from aborted commits are always
    * removed — they were never readable state.
    */
  def pruneVersions(spark: SparkSession, root: String,
      keep: Int = 1): Unit =
    withWriterLease(spark, root, "prune-versions") {
      // expression form, no early return: a `return` inside this
      // by-name lease body compiles to NonLocalReturnControl —
      // deprecated, and it silently breaks (escaping control
      // throwable) if the body ever moves onto a pool thread
      // (round-15 advice; same rule at every lease call site)
      liveVersion(spark, root).foreach { live =>
        val fs = fsFor(spark, root)
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .map(_.getPath).filter(_.getName.startsWith("v="))
        val complete = dirs.filter(p =>
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .map(_.getName.drop(2).toLong)
          .sorted(Ordering[Long].reverse)
        val keepSet = complete.take(math.max(1, keep)).toSet + live
        dirs
          .filter(p => !keepSet.contains(p.getName.drop(2).toLong))
          .foreach(fs.delete(_, true))
      }
    }
}
