package graft

import org.scalatest.funsuite.AnyFunSuite

/** Two REAL JVMs race [[ops.Memo.install]] on one memoRoot —
  * the cross-session scenario the race-loser contract exists for
  * (every in-JVM spec can only interleave threads over one
  * FileSystem object; the production hazard is two Spark SESSIONS).
  * Each round: spawn two [[MemoRaceWorker]] processes, release them
  * with a shared barrier file, then assert exactly one winner's
  * staging became the memo, the loser's staging is gone, both
  * processes read the winner's complete bytes, and no `__tmp_`
  * staging is nested inside the installed memo (the local-FS
  * rename-onto-existing copy fallback this helper repairs).
  * Several rounds vary the interleaving; every round must hold.
  */
class MemoRaceSpec extends AnyFunSuite {

  private val sparkJars = "/opt/spark/jars"

  private def classpath: String = {
    // the compiled classes dirs (worker + Sinks) plus Spark's jar
    // closure (hadoop, scala-library) — same bytes sbt test runs
    val target = new java.io.File("target/scala-2.13")
    Seq(new java.io.File(target, "classes").getAbsolutePath,
      new java.io.File(target, "test-classes").getAbsolutePath,
      s"$sparkJars/*").mkString(java.io.File.pathSeparator)
  }

  test("two JVMs racing installMemo on one memoRoot: one winner, loser serves the winner's bytes") {
    assume(new java.io.File(sparkJars).isDirectory)
    val rounds = 4
    (1 to rounds).foreach { round =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_memo_race_$round").toString
      val memoRoot = s"$base/memo"
      val barrier = s"$base/go"
      def launch(id: String): Process =
        new ProcessBuilder("java", "-cp", classpath,
            "graft.MemoRaceWorker", id, memoRoot, barrier)
          .redirectErrorStream(true).start()
      val pa = launch("a")
      val pb = launch("b")
      // release both (each is spin-waiting after staging its content)
      Thread.sleep(1500) // let both JVMs reach the barrier poll
      java.nio.file.Files.createFile(java.nio.file.Paths.get(barrier))
      def drain(p: Process): String = {
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
          s"worker did not exit:\n$out")
        assert(p.exitValue() === 0, s"worker failed (round $round):\n$out")
        out
      }
      val outA = drain(pa)
      val outB = drain(pb)
      // both workers saw a complete memo owned by ONE of them
      val owner = "owner=([ab])".r
      val ownerA = owner.findFirstMatchIn(outA).map(_.group(1))
      val ownerB = owner.findFirstMatchIn(outB).map(_.group(1))
      assert(ownerA.nonEmpty && ownerA === ownerB,
        s"round $round: workers disagree on the winner: a=$ownerA b=$ownerB\n$outA\n$outB")
      // on-disk post-state: memo installed, exactly one owner marker,
      // no staging beside or nested inside it
      val memo = new java.io.File(memoRoot)
      assert(memo.isDirectory)
      val names = memo.listFiles().map(_.getName)
      assert(names.count(_.startsWith("OWNER_")) === 1, names.toSeq)
      assert(names.count(_.startsWith("part-")) === 3, names.toSeq)
      assert(!names.exists(_.contains("__tmp_")), names.toSeq)
      val siblings = new java.io.File(base).listFiles().map(_.getName)
      assert(!siblings.exists(_.contains("__tmp_")),
        s"round $round: loser staging not cleaned: ${siblings.toSeq}")
    }
  }
}
