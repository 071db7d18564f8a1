package graft

import org.apache.spark.sql.SparkSession

/** ONE local-session builder for every runnable main (Bench, Verify,
  * Plans, ScaleProbe, BenchIncremental, JobCensus). The config here IS the
  * execution contract the oracle gate and the bench records are
  * measured under — five hand-synced copies of it meant a future
  * tuning could silently bench under a different config than the
  * correctness dump verifies (the committer-v2 line had already been
  * copy-pasted five times).
  */
object Sessions {

  /** `fs.file.impl` of every session: [[NioLocalFileSystem]], which
    * sets file permissions without forking a `chmod`. Hadoop caches
    * filesystems by scheme and user, not by configuration, so this
    * must be set before the JVM's first `file:` filesystem is built.
    */
  val LocalFsImpl: String = classOf[NioLocalFileSystem].getName

  /** `local[cpus]` session with the repo's standard knobs:
    * shuffle.partitions = cpus (never the 200 default on a laptop-
    * class box), UTC (oracle parity), AQE on, nanos-as-long for the
    * events table's TIMESTAMP(NANOS) shape, task-side v2 commit
    * renames so sink ops pay one rename per file instead of a serial
    * driver-side directory move, and the fork-free local filesystem.
    */
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Respect the advisory partition size when coalescing instead
      // of stopping at defaultParallelism (Spark's own docs recommend
      // false): a KB-scale shuffle collapses to ONE task instead of
      // 32 — on the many small index/lifecycle exchanges this removes
      // pure scheduling overhead, and at 100 TB the advisory size
      // (64 MB default) governs, which is the partitioning you want.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", LocalFsImpl)
      .getOrCreate()
    s
  }
}
