package graft

import graft.ops.{LlmOps, Sinks}
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The sessions' local filesystem ([[Sessions.LocalFsImpl]]): it is
  * what `file:` paths resolve to, its rename never replaces a file,
  * it writes, commits, seals and signs without starting a process, and
  * it leaves the same mode bits as the stock `LocalFileSystem`. Also pins the permission-free listing
  * helper ([[Sinks.filesUnder]]) to its `listFiles` twin.
  */
class SessionsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_sessions_$tag").toString

  /** A stamped relation under `path`: two batches over two partitions. */
  private def writeStamped(path: String, options: Map[String, String] = Map.empty): Unit =
    (0L until 2L).foreach { b =>
      Seq((b * 10, "x"), (b * 10 + 1, "y"), (b * 10 + 2, "z")).toDF("id", "v")
        .withColumn("part", pmod(col("id"), lit(2)))
        .withColumn("__batch_id", lit(b))
        .write.options(options).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part", "__batch_id").parquet(path)
    }

  /** Root-relative path (part-file UUIDs masked) → mode bits, for
    * every file, `.crc` file and directory under `root`.
    */
  private def modes(root: String): Seq[(String, String)] = {
    val r = java.nio.file.Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.toSeq.map { p: JPath =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sorted
    finally walk.close()
  }

  private def isPermissionFork(cmd: String): Boolean =
    Set("chmod", "ls").contains(cmd.split(" ").head.split("/").last)

  test("file: paths resolve to the sessions' fork-free local filesystem") {
    val fs = Sinks.fsFor(spark, tmpDir("resolve"))
    assert(fs.getClass.getName === Sessions.LocalFsImpl)
    // still the checksummed stack, and still a LocalFileSystem to getLocal
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem
      .isInstanceOf[NioLocalFileSystem.Raw])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("a rename onto an existing file fails and leaves both files, as on HDFS") {
    val dir = new Path(tmpDir("rename"))
    val fs = Sinks.fsFor(spark, dir.toString)
    def put(name: String, body: String): Path = {
      val p = new Path(dir, name)
      val out = fs.create(p); out.write(body.getBytes("UTF-8")); out.close(); p
    }
    def read(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val (claim, lease) = (put("claim", "old holder"), put("lease", "new holder"))
    assert(!fs.rename(claim, lease))
    assert(read(lease) === "new holder" && read(claim) === "old holder")
    // a file still moves to a free name, and a directory still moves
    assert(fs.rename(claim, new Path(dir, "moved")) && read(new Path(dir, "moved")) === "old holder")
    assert(fs.mkdirs(new Path(dir, "d/sub")) && fs.rename(new Path(dir, "d"), new Path(dir, "e")))
    assert(fs.exists(new Path(dir, "e/sub")))
  }

  test("write, seal and table signature start no chmod or ls process") {
    val root = tmpDir("forks")
    val rel = s"$root/docs.parquet"
    val (sig, forks) = JobCensus.processStarts {
      writeStamped(rel)
      assert(Sinks.sealBatchStamped(spark, rel, Some("part")))
      LlmOps.tableSignature(spark, root, "docs")
    }
    assert(sig.length === 16)
    val permissionForks = forks.filter(isPermissionFork)
    assert(permissionForks.size === 0, permissionForks.take(3))
    // the seal really wrote checksums, and a read verifies them
    assert(modes(rel).exists(_._1.endsWith(".parquet.crc")))
    assert(spark.read.parquet(rel).count() === 6)
  }

  test("mode bits of a partitioned write equal the stock LocalFileSystem's") {
    val nio = tmpDir("mode_nio") + "/rel"
    val stock = tmpDir("mode_stock") + "/rel"
    writeStamped(nio)
    // an uncached stock filesystem for this write only: the option
    // reaches the driver-side commit and every task's Hadoop conf
    val (_, stockForks) = JobCensus.processStarts(writeStamped(stock, Map(
      "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")))
    assert(stockForks.exists(isPermissionFork), "stock write did not reach the stock filesystem")
    val (n, s) = (modes(nio), modes(stock))
    assert(n.exists(_._1.endsWith(".crc")) && n.exists(_._1.startsWith("part=")))
    assert(n === s)
  }

  test("filesUnder walks equal their listFiles twins: table signature and seal-guard batch map") {
    val root = tmpDir("walk")
    val rel = s"$root/docs.parquet"
    writeStamped(rel)
    val fs = Sinks.fsFor(spark, rel)
    // an empty batch dir, an empty partition dir, and a nested file
    // (with its .crc) below a batch dir
    fs.mkdirs(new Path(s"$rel/part=0/__batch_id=7"))
    fs.mkdirs(new Path(s"$rel/part=5"))
    val out = fs.create(new Path(s"$rel/part=1/__batch_id=1/extra/nested.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()

    def filesTwin(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    // the pre-helper tableSignature, verbatim but for the listing
    val sigTwin = {
      val p = new Path(rel)
      val rootStr = fs.makeQualified(p).toString
      val acc = filesTwin(p).map { st =>
        st.getPath.toString.stripPrefix(rootStr) + ":" + st.getLen + ":" +
          st.getModificationTime
      }.sorted.foldLeft(1125899906842597L) { (h, e) =>
        h * 31 + scala.util.hashing.MurmurHash3.stringHash(e)
      }
      f"$acc%016x"
    }
    assert(LlmOps.tableSignature(spark, root, "docs") === sigTwin)
    // the pre-helper listBatchDirs
    def batchTwin(p: Path, relDir: String): Seq[(String, (Long, Long, Long))] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        val r = if (relDir.isEmpty) name else s"$relDir/$name"
        if (!name.startsWith("__batch_id=")) batchTwin(st.getPath, r)
        else {
          val files = filesTwin(st.getPath)
          Seq(r -> ((files.size.toLong, files.map(_.getLen).sum,
            files.map(_.getModificationTime).foldLeft(0L)(math.max))))
        }
      }
    val batches = Sinks.listBatchDirs(fs, new Path(rel))
    assert(batches === batchTwin(new Path(rel), "").toMap)
    assert(batches("part=0/__batch_id=7") === ((0L, 0L, 0L)))
    assert(batches("part=1/__batch_id=1")._1 >= 2L) // its part files + nested.parquet
    assert(Sinks.filesUnder(fs, new Path(rel)).forall(!_.getPath.getName.endsWith(".crc")))
  }
}
