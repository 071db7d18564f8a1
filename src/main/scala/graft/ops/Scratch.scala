package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run scratch directories: the throwaway index and sink state a
  * declared lifecycle or sink query builds, probes or reads back, then
  * discards. This module is the one place that knows how such a
  * directory is named, cleared, localized out of and removed; call
  * sites only say WHICH scratch (tag + corpus dir) and WHAT runs in
  * it. Library callers of the index and sink APIs choose their own
  * paths and manage their own lifecycle; they never come through here.
  *
  * Name shape: `<indexRoot>/graft_<tag>_<dir sanitized>_<applicationId>`.
  * The application id keeps two sessions over one corpus apart, so one
  * never clears or rewrites the state the other is mid-probe on.
  */
object Scratch {

  private[graft] def pathOf(spark: SparkSession, tag: String,
      dir: String): String =
    s"${Sinks.indexRoot}/graft_${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      spark.sparkContext.applicationId

  /** Run `body` in the scratch dir of (`tag`, `dir`) and return its
    * BOUNDED result as a local relation. The dir is cleared first (a
    * leftover of this application's earlier failed run must not be
    * probed), the result is collected before the dir is deleted (the
    * returned frame no longer reads the files), and the delete runs in
    * a `finally`. A `body` that throws also takes the dir's `<dir>__*`
    * siblings with it: the park and tmp dirs a failed retrain, apply,
    * compact or seal leaves beside the root. Only a killed JVM leaves
    * scratch behind.
    */
  private[graft] def run(spark: SparkSession, tag: String, dir: String)(
      body: String => DataFrame): DataFrame = {
    val path = pathOf(spark, tag, dir)
    val fs = Sinks.fsFor(spark, path)
    val root = new Path(path)
    fs.delete(root, true)
    try {
      val result = body(path)
      spark.createDataFrame(java.util.Arrays.asList(result.collect(): _*),
        result.schema)
    } catch { case t: Throwable =>
      Option(fs.globStatus(new Path(path + "__*")))
        .foreach(_.foreach(s => fs.delete(s.getPath, true)))
      throw t
    } finally fs.delete(root, true)
  }
}
