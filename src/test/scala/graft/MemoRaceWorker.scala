package graft

/** Standalone JVM worker for the CROSS-PROCESS memo-install race
  * spec (MemoRaceSpec): two of these processes are launched against
  * ONE memoRoot, synchronize on a barrier file, and race
  * [[ops.Memo.install]] — the scenario the race-loser contract
  * exists for, which an in-JVM spec can only approximate. No
  * SparkSession: installMemo operates on a Hadoop FileSystem and the
  * staged content's format is irrelevant to the rename race, so the
  * worker stays a sub-second JVM and the two installs land close
  * together.
  *
  * Protocol (stdout, parsed by the spec):
  *   `WORKER <id> OK owner=<winnerId> files=<n>` on success.
  * Each worker stages identical logical content (the deterministic-
  * build contract installMemo assumes) plus one `OWNER_<id>` marker
  * file — the installed memo's single surviving marker names the
  * winner, and BOTH workers must read the winner's bytes back.
  */
object MemoRaceWorker {
  def main(args: Array[String]): Unit = {
    val Array(id, memoRoot, barrier) = args
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", Sessions.LocalFsImpl)
    val dst = new org.apache.hadoop.fs.Path(memoRoot)
    val fs = dst.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(memoRoot + "__tmp_app_" + id)
    fs.delete(staging, true)
    fs.mkdirs(staging)
    // identical deterministic payload in both stagings (3 files), one
    // worker-distinct marker
    (0 until 3).foreach { i =>
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, s"part-$i.txt"))
      out.write(s"deterministic-content-$i:${(0 until 64).mkString(",")}\n".getBytes("UTF-8"))
      out.close()
    }
    fs.create(new org.apache.hadoop.fs.Path(staging, s"OWNER_$id")).close()
    // barrier: both processes finish staging, then fire together
    while (!new java.io.File(barrier).exists()) Thread.sleep(1)
    ops.Memo.install(fs, staging, dst)
    // whoever lost must now be reading the WINNER's installed bytes;
    // both assert the memo is complete and name the owner they see
    val entries = fs.listStatus(dst).map(_.getPath.getName).sorted
    val owners = entries.filter(_.startsWith("OWNER_"))
    val parts = entries.filter(_.startsWith("part-"))
    require(owners.length == 1, s"expected one owner marker, got ${owners.toSeq}")
    require(parts.length == 3, s"expected 3 payload files, got ${parts.toSeq}")
    parts.zipWithIndex.foreach { case (p, i) =>
      val in = fs.open(new org.apache.hadoop.fs.Path(dst, p))
      val read = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      require(read.startsWith(s"deterministic-content-$i:"),
        s"payload $p corrupt: ${read.take(40)}")
    }
    // NOTE: no nested-__tmp_ assertion HERE — the loser's copy-into
    // fallback transiently nests its staging inside dst before its
    // own installMemo repairs it, so the winner can legitimately
    // observe that window mid-race. The POST-state (both processes
    // exited) is where absence is guaranteed; MemoRaceSpec asserts it
    // there.
    println(s"WORKER $id OK owner=${owners.head.stripPrefix("OWNER_")} " +
      s"files=${parts.length}")
  }
}
