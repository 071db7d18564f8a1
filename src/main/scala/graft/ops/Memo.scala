package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Persisted memos: the derived-state tier of the library (cluster
  * labels, the prepared corpus, stamped and serving indexes). Every
  * memo is a pure function of (corpus state, declared parameters),
  * built once under [[Sinks.indexRoot]] and read thereafter. This
  * module is the one place that knows how a memo is named, built,
  * installed, collected and retired; call sites only say WHICH memo
  * ([[Family]] + corpus dir + parameter tag) and HOW to build it.
  *
  * Name shape (byte-stable — installed memos stay reachable):
  * `graft_<family>_memo_<memoDirKey>_s<tableSignature><params>[_<IndexMemoFormat>]`.
  * The dir key keeps two corpora apart, the table signature keeps two
  * states of one corpus apart, the params keep two declarations apart
  * and the format tag keeps two code versions apart.
  */
object Memo {

  /** One memo family: `name` is the family's path component, `table`
    * the corpus table whose on-disk signature keys it, and `formatted`
    * whether the name carries [[IndexMemoFormat]] (index layouts do;
    * plain label/corpus relations do not).
    */
  final case class Family(name: String, table: String, formatted: Boolean)

  /** q61 cluster labels and q125's para-cleaned labels (`_cp` tag). */
  val Cluster = Family("cluster", "documents", formatted = false)
  /** q125/q126's prepared corpus: cleaned relation + stage counters. */
  val CorpusPrep = Family("corpus_prep", "documents", formatted = false)
  /** q118/q115's flat PQ serving index. */
  val AnnIndex = Family("ann_index", "embeddings", formatted = true)
  /** q114/q120's batch-stamped ANN ingest. */
  val AnnStamped = Family("ann_stamped", "embeddings", formatted = true)
  /** q119's pre-seal LSH prefix and q131's full LSH ingest. */
  val DedupPrefix = Family("dedup_prefix", "documents", formatted = true)
  /** q132's full paragraph-index ingest. */
  val ParaFull = Family("para_full", "documents", formatted = true)
  /** q116's batch-stamped BM25 ingest. */
  val Bm25Stamped = Family("bm25_stamped", "documents", formatted = true)
  /** The flat BM25 inverted index (q115's lexical leg). */
  val Bm25Index = Family("bm25_index", "documents", formatted = true)

  /** Every family above. Nothing in the module depends on this list
    * ([[retire]] matches the name shape); specs iterate it.
    */
  val Families: Seq[Family] = Seq(Cluster, CorpusPrep, AnnIndex,
    AnnStamped, DedupPrefix, ParaFull, Bm25Stamped, Bm25Index)

  /** On-disk FORMAT tag of index memos. The corpus signature catches a
    * regenerated corpus; this catches regenerated CODE: bump it
    * whenever any index layout a memo stores changes (stamp scheme,
    * partition columns, codebook encoding, the dedup-prefix admitted
    * schema), so new code never clones or probes bytes an older
    * format wrote. Stale-format memos are collected by the next
    * same-family install ([[gcStaleMemos]]) or retired with their dir.
    * f2: inverted-index stats gained `n_buckets` (round 11; the
    * additive `__nb_<n>` sentinel of round 12 is not a bump).
    * f3: the quantizer refine loops moved driver-side (round 14), so
    * persisted centroid floats changed.
    */
  private[graft] val IndexMemoFormat = "f3"

  /** Infix of a memo's staging dir: `<memo>__tmp_<applicationId>`. */
  private val StagingInfix = "__tmp_"

  /** Disk-memo key for a corpus dir: the sanitized name for
    * readability PLUS a 16-hex hash of the RAW dir string — two dirs
    * that sanitize identically ("/a-b" vs "/a_b") must never share a
    * memo. 64 bits like [[LlmOps.tableSignature]] (two independently
    * seeded 32-bit murmurs): a truncated key would reopen the birthday
    * collision the signature widened away (round 11). The hash also
    * makes [[retire]] exact rather than a prefix heuristic.
    */
  private[graft] def memoDirKey(dir: String): String = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(dir) & 0xFFFFFFFFL
    val lo = scala.util.hashing.MurmurHash3.stringHash(dir, 0x9E3779B9) & 0xFFFFFFFFL
    dir.replaceAll("[^a-zA-Z0-9]", "_") + "_h" + f"${(hi << 32) | lo}%016x"
  }

  private def stemOf(family: Family, dir: String): String =
    s"graft_${family.name}_memo_${memoDirKey(dir)}_s"

  private def pathWith(family: Family, dir: String, sig: String,
      params: String): String =
    s"${Sinks.indexRoot}/${stemOf(family, dir)}$sig$params" +
      (if (family.formatted) s"_$IndexMemoFormat" else "")

  /** Path of the `family` memo of `dir` under `params` (a tag such as
    * `_t500000_d5000`) at the corpus's CURRENT on-disk state.
    */
  def pathOf(spark: SparkSession, family: Family, dir: String,
      params: String): String =
    pathWith(family, dir, LlmOps.tableSignature(spark, dir, family.table),
      params)

  /** Ensure the `family` memo of `dir` under `params` exists and
    * return its path. The whole protocol, once:
    *   - installed already: drop nested staging a killed racer left
    *     ([[repairNestedStaging]]) and return;
    *   - else clear this application's staging dir
    *     (`<memo>__tmp_<appId>`, a leftover of an earlier failed
    *     build), run `build` into it, [[install]] race-tolerantly and
    *     collect the family's stale siblings ([[gcStaleMemos]]) under
    *     the signature the name was built from.
    * A `build` that throws installs nothing and leaves no staging, so
    * the next call rebuilds. Concurrent sessions each stage under
    * their own application id; the loser of the install reads the
    * winner's bytes, which are identical because builds are
    * deterministic.
    */
  def ensure(spark: SparkSession, family: Family, dir: String,
      params: String)(build: Path => Unit): String = {
    val sig = LlmOps.tableSignature(spark, dir, family.table)
    val memo = pathWith(family, dir, sig, params)
    val fs = Sinks.fsFor(spark, memo)
    val dst = new Path(memo)
    if (fs.exists(dst)) repairNestedStaging(fs, dst)
    else {
      val staging = new Path(memo + StagingInfix +
        spark.sparkContext.applicationId)
      fs.delete(staging, true)
      try build(staging)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
      install(fs, staging, dst)
      gcStaleMemos(spark, family, dir, sig)
    }
    memo
  }

  /** Install a staged memo directory at its final path, tolerating a
    * cross-session race: only the first installer's rename lands; a
    * loser deletes its staging. On the LOCAL filesystem, Hadoop's
    * rename onto an EXISTING non-empty directory falls back to
    * copy-then-delete INTO the destination (returning true), which
    * would nest the loser's staging inside the winner's memo and
    * corrupt every later read. So existence is pre-checked AND the
    * nested copy repaired after the fact. A genuine failure — rename
    * refused and no concurrent winner — throws: a caller would
    * otherwise read a missing memo, and probes that tolerate missing
    * directories would answer EMPTY with no error.
    */
  private[graft] def install(fs: FileSystem, staging: Path,
      dst: Path): Unit = {
    if (fs.exists(dst) || !fs.rename(staging, dst))
      fs.delete(staging, true)
    val nested = new Path(dst, staging.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
    if (!fs.exists(dst))
      throw new java.io.IOException(
        s"Memo.install: could not install $dst (rename failed, no concurrent winner)")
  }

  /** Read-side companion of [[install]]: drop any staging-named child
    * nested inside an installed memo. The in-install repair only runs
    * when install is CALLED — a racing session killed mid-copy-fallback
    * leaves partial nested staging that every later consumer would
    * read as garbage rows. One listStatus.
    */
  private[graft] def repairNestedStaging(fs: FileSystem, dst: Path): Unit = {
    if (!fs.exists(dst)) return
    fs.listStatus(dst).map(_.getPath)
      .filter(_.getName.contains(StagingInfix))
      .foreach(fs.delete(_, true))
  }

  /** Delete every persisted memo of `dir`, whatever its family or
    * writer: names embed [[memoDirKey]], so matching the name SHAPE
    * `graft_*_memo_<key>_` retires each family without a registry a
    * new family could be left out of, and the raw-dir hash confines
    * it to `dir`'s own memos. Staging dirs and tombstones go with
    * their memo.
    */
  private[graft] def retire(spark: SparkSession, dir: String): Unit = {
    val infix = s"_memo_${memoDirKey(dir)}_"
    val root = new Path(Sinks.indexRoot)
    val fs = Sinks.fsFor(spark, root.toString)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter { p => val n = p.getName; n.startsWith("graft_") && n.contains(infix) }
        .foreach(fs.delete(_, true))
  }

  /** Grace window for [[gcStaleMemos]]: a stale memo is only swept
    * once its tombstone marker (dropped at first sighting) is this
    * old, so a reader that resolved it against the PREVIOUS corpus
    * state finishes before the delete lands.
    */
  private[graft] val MemoGcGraceMs: Long = 15 * 60 * 1000L

  /** Tombstone suffix [[gcStaleMemos]] drops beside a stale memo at
    * first sighting; the marker's mtime is the grace clock.
    */
  private[graft] val StaleMarkerSuffix: String = "__stale_marker"

  /** Minimum interval between whole-root GC sweeps of one family. */
  private[graft] val GcResweepNs: Long = 60L * 1000 * 1000 * 1000

  /** [[gcStaleMemos]] re-sweep throttle: nanoTime of the last sweep
    * per (family stem + live signature). Not once-per-JVM: the GC is
    * two-phase, so a long-lived driver must keep re-sweeping or phase
    * 2 never runs; once per minute (grace 15 min) preserves that at a
    * fraction of the listing cost.
    */
  private val gcSweepLast =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Test hook: forget sweep history so the next GC sweeps at once. */
  private[graft] def gcSweepReset(): Unit = gcSweepLast.clear()

  /** Test hook: age every recorded sweep window by `ns`, so a spec
    * can simulate a steady cadence crossing [[GcResweepNs]] without
    * sleeping through it.
    */
  private[graft] def gcSweepBackdate(ns: Long): Unit =
    gcSweepLast.replaceAll((_, v) => java.lang.Long.valueOf(v.longValue() - ns))

  /** A memo name carries a stale format tag iff it ends (before any
    * staging suffix) in `_f<digits>` that is not [[IndexMemoFormat]].
    * Families without format tags never match.
    */
  private def isStaleFormat(name: String): Boolean = {
    val base = name.replaceFirst(StagingInfix + ".*$", "")
    val m = "_f([0-9]+)$".r.findFirstIn(base)
    m.exists(_ != s"_$IndexMemoFormat")
  }

  /** [[gcStaleMemos]] at the corpus's current signature. */
  private[graft] def gcStaleMemos(spark: SparkSession, family: Family,
      dir: String): Unit =
    gcStaleMemos(spark, family, dir,
      LlmOps.tableSignature(spark, dir, family.table))

  /** Garbage-collect STALE siblings of a `family` memo of `dir`: every
    * memo of the family and dir whose embedded table signature differs
    * from `liveSig` is unreachable by construction (the signature is
    * part of every lookup key) and would otherwise accumulate one
    * index-sized directory per regenerated corpus state (round 10).
    * Current-signature memos with a stale format tag go too. Live
    * same-signature memos under OTHER params are kept — concurrent
    * sessions may be mid-read on them; deleting a current memo is
    * [[retire]]'s job only. Staging dirs of stale memos match the same
    * rule and are swept with them.
    *
    * TWO-PHASE: the first pass that sees a stale entry only drops a
    * tombstone marker beside it (`<memo>__stale_marker`), a later pass
    * deletes the entry once the MARKER is older than [[MemoGcGraceMs]].
    * The clock starts at first-SEEN-stale, not at install: a session
    * that resolved its path just before the corpus was regenerated can
    * still be mid-read on a now-stale memo (round 12). The marker
    * carries the live signature it was dropped under, and the sweep
    * deletes only while that still matches: a marker left by a
    * signature flip-flop is re-dropped, restarting the clock. Markers
    * whose memo is gone are swept; a memo that is live again sheds its
    * old marker. Writer leases (`__lease`, `__reclaim_*`) sharing the
    * stem are lifecycle state, never touched (round 15). Marker reads
    * tolerate concurrent sweeps.
    *
    * Throttled to one sweep per family stem and signature per
    * [[GcResweepNs]]: a sweep lists the whole root, and a root with
    * hundreds of scratch dirs made per-ensure sweeps cost tens of
    * seconds per bench. The window is recorded only when a sweep
    * proceeds (an unconditional put slid it forever, round 15), and
    * putIfAbsent/replace let exactly one concurrent caller claim it.
    */
  private[graft] def gcStaleMemos(spark: SparkSession, family: Family,
      dir: String, liveSig: String): Unit = {
    val stem = stemOf(family, dir)
    val live = stem + liveSig
    val sweepKey = s"$stem|$liveSig"
    val now = System.nanoTime()
    val prev = gcSweepLast.get(sweepKey)
    if (prev != null && now - prev.longValue() < GcResweepNs) return
    val claimed =
      if (prev == null)
        gcSweepLast.putIfAbsent(sweepKey, java.lang.Long.valueOf(now)) == null
      else gcSweepLast.replace(sweepKey, prev, java.lang.Long.valueOf(now))
    if (!claimed) return
    val tmp = Sinks.indexRoot
    val fs = Sinks.fsFor(spark, tmp)
    val root = new Path(tmp)
    if (!fs.exists(root)) return
    // "now" for the grace clock comes from the filesystem that stamped
    // the markers (a fresh probe file's mtime): server clocks on
    // HDFS/object stores can skew from this client's (round 12). Lazy
    // — sweeps that meet no marker never pay the round-trip.
    lazy val cutoff: Long = {
      val probe = new Path(root,
        ".graft_gc_clock_probe_" + java.util.UUID.randomUUID().toString)
      val fsNow = try {
        fs.create(probe, true).close()
        fs.getFileStatus(probe).getModificationTime
      } catch { case _: java.io.IOException => System.currentTimeMillis() }
      finally { try fs.delete(probe, false) catch { case _: java.io.IOException => } }
      fsNow - MemoGcGraceMs
    }
    val entries = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      !n.endsWith("__lease") && !n.contains("__reclaim_") && n.startsWith(stem)
    }
    val names = entries.map(_.getPath.getName).toSet
    def dropMarker(marker: Path): Unit = {
      val out = fs.create(marker, true)
      try out.write(liveSig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // (age, tombstoning-context signature) of a marker; None = the
    // marker vanished under a concurrent sweep — treat as unseen
    def readMarker(marker: Path): Option[(Long, String)] =
      try {
        val mtime = fs.getFileStatus(marker).getModificationTime
        val in = fs.open(marker)
        val sig = try {
          val buf = new Array[Byte](64)
          val k = in.read(buf)
          if (k <= 0) "" else new String(buf, 0, k,
            java.nio.charset.StandardCharsets.UTF_8).trim
        } finally in.close()
        Some((mtime, sig))
      } catch { case _: java.io.FileNotFoundException => None }
    entries.foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(StaleMarkerSuffix)) {
        // orphan marker: its memo is already gone
        if (!names.contains(n.stripSuffix(StaleMarkerSuffix)))
          fs.delete(st.getPath, false)
      } else if (!n.startsWith(live) || isStaleFormat(n)) {
        val marker = new Path(tmp, n + StaleMarkerSuffix)
        if (!names.contains(n + StaleMarkerSuffix)) {
          dropMarker(marker) // first sighting: clock starts
        } else readMarker(marker) match {
          case Some((mtime, sig)) if sig == liveSig && mtime < cutoff =>
            fs.delete(st.getPath, true)
            fs.delete(marker, false); ()
          case Some((_, sig)) if sig != liveSig =>
            dropMarker(marker) // flip-flop leftover: restart the clock
          case _ => () // mid-grace, or vanished under a peer's sweep
        }
      } else if (names.contains(n + StaleMarkerSuffix)) {
        // live again: shed the old tombstone, or the next genuine
        // staleness would skip its grace
        fs.delete(new Path(tmp, n + StaleMarkerSuffix), false); ()
      }
    }
  }
}
