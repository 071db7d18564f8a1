package graft

/** Standalone JVM worker for the cross-process WRITER-LEASE spec
  * (LeaseRaceSpec, the MemoRaceWorker pattern): holds
  * [[ops.Sinks.withWriterLease]] on one index root through the REAL
  * acquisition path — the "ingest service" side of the race the
  * lease exists for (a takedown service mutating the same root from
  * another JVM must abort loud, and serialize once this holder
  * releases). No SparkSession: the lease operates on a Hadoop
  * FileSystem, so the worker stays a sub-second JVM.
  *
  * Protocol: acquire lease(root, "ingest-append"), touch `readyFile`,
  * spin until `goFile` exists, release (normal withWriterLease
  * finally), print `WORKER OK`.
  */
object LeaseRaceWorker {
  def main(args: Array[String]): Unit = {
    val Array(root, readyFile, goFile) = args
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", Sessions.LocalFsImpl)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    ops.Sinks.withWriterLease(fs, root, "ingest-append") {
      java.nio.file.Files.createFile(java.nio.file.Paths.get(readyFile))
      while (!new java.io.File(goFile).exists()) Thread.sleep(1)
    }
    println("WORKER OK")
  }
}
