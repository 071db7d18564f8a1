package graft.perfbench

import graft.{Bench, Sessions, SparkEntry}
import graft.perfbench.Workloads._

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** The benchmark's JVM side. One process runs one workload:
  *
  *  1. builds the `local[4]` session;
  *  2. sets up the seeded inputs (and, for index_lifecycle, the seeded
  *     indexes);
  *  3. runs whole passes of the workload's fixed op list, one op at a
  *     time (closed loop, one client), until `--seconds` have elapsed;
  *  4. writes every op's latency and output digest, and the run's
  *     totals, as JSON to `--out`.
  *
  * With `--trace 1` it runs one traced pass, which feeds the per-layer
  * metrics. With `--dump DIR` it runs a single pass and also
  * writes each declared query's output under DIR, for the DuckDB
  * oracle cross-check.
  *
  * `perfbench/run.py` builds and launches this, checks the digests and
  * prints the result line.
  */
object Main {
  private def arg(m: Map[String, String], k: String) =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  final case class OpRec(pass: Int, key: String, op: Op, latS: Double,
      out: Either[Throwable, Digest.Of], filesNew: Long)
  final case class PassRec(wallS: Double, cpuS: Double, liveBytes: Long, liveFiles: Long,
      memos: Int)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg(a, "workload")
    val seeds = Seeds(arg(a, "seed").toLong)
    val seconds = arg(a, "seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val runDir = arg(a, "run-dir")
    val out = arg(a, "out")
    val scale = if (a.get("scale").contains("tiny")) Tiny else Full
    val dump = a.get("dump")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    Bench.quietLogs()
    val sess0 = System.nanoTime()
    val spark = Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sess0) / 1e9

    // seeded inputs, and for index_lifecycle the seeded indexes
    val trace = if (traced) Some(new Trace(spark)) else None
    val hooks = trace.map(Trace.hooks).getOrElse(Trace.off)
    val w = Workloads(workload, seeds, scale)
    val setupStart = System.nanoTime()
    val data = w.setup(spark, s"$runDir/setup")
    val inputSetupS = (System.nanoTime() - setupStart) / 1e9
    val inputBytes = Gen.bytesOf(data, w.inputTables)

    // timed passes
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val canaryBefore = canary()
    val steal0 = stealSeconds()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var k = 0
    while (k == 0 || (!traced && dump.isEmpty && elapsed < seconds)) {
      val passDir = s"$runDir/pass$k"
      val ctx = Ctx(spark, w.prepare(spark, data, passDir), passDir, hooks,
        if (k == 0) dump else None)
      val state = new File(w.stateRoot(passDir))
      trace.foreach(_.attach())
      val pc = os.getProcessCpuTime
      val ps = System.nanoTime()
      w.ops.zipWithIndex.foreach { case (op, i) =>
        val key = s"p$k:$i"
        val before = trace.map(_.cost(Files.fileCount(state)))
        val o0 = System.nanoTime()
        val res =
          try Right(trace.fold(op.run(ctx))(_.op(key, op.name)(op.run(ctx))))
          catch { case e: Throwable => Left(e) }
        val lat = (System.nanoTime() - o0) / 1e9
        res.left.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
        val filesNew = trace.fold(0L)(t => (t.cost(Files.fileCount(state)) - before.get).max(0L))
        ops += OpRec(k, key, op, lat, res, filesNew)
      }
      val wall = (System.nanoTime() - ps) / 1e9
      val cpu = (os.getProcessCpuTime - pc) / 1e9
      trace.foreach(_.detach())
      passes += PassRec(wall, cpu, Files.treeBytes(state), Files.fileCount(state),
        Files.memoDirs(state).size)
      Files.deleteTree(new File(passDir))
      k += 1
    }
    val stealS = stealSeconds() - steal0
    val canaryAfter = canary()

    for (d <- dump) {
      new File(d).mkdirs()
      val names = ops.flatMap(_.op.declared).toSet
      val oracle = SparkEntry.oracleSql.filter { case (n, _) => names(n) }
      java.nio.file.Files.writeString(new File(s"$d/oracle_sql.json").toPath,
        Json.obj(oracle.toSeq.sortBy(_._1).map { case (n, q) => n -> Json.str(q) }))
    }

    val layers = trace.map(t => Layers.of(t, w, ops.toSeq, passes.toSeq, sessionS, inputBytes))
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "variant" -> seeds.variant.toString,
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "input_setup_s" -> Json.num(inputSetupS),
      "input_bytes" -> inputBytes.toString,
      "mem_peak_mb" -> Json.num(vmHwmMb()),
      "steal_s" -> Json.num(stealS),
      "canary_s" -> Json.arr(Seq(Json.num(canaryBefore), Json.num(canaryAfter))),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
        "live_bytes" -> p.liveBytes.toString, "memos" -> p.memos.toString)))),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq(
        "pass" -> o.pass.toString,
        "name" -> Json.str(o.op.name), "module" -> Json.str(o.op.module),
        "lat_s" -> Json.num(o.latS)) ++
        (o.out match {
          case Right(d) => Seq("rows" -> d.rows.toString, "hash" -> Json.str(d.hash))
          case Left(e) => Seq("error" -> Json.str(String.valueOf(e)))
        })))),
      "layers" -> layers.map(l => Json.obj(l.toSeq.map { case (n, v) => n -> Json.num(v) }))
        .getOrElse("null"),
      "spans" -> trace.map(t => Layers.spanSummary(t)).getOrElse("null")))
    java.nio.file.Files.writeString(new File(out).toPath, json)
    spark.stop()
  }

  /** Fixed CPU-bound work; its wall time is the run's noise canary. */
  def canary(): Double = {
    val t = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t) / 1e9
  }

  /** Host-wide steal time so far, from /proc/stat (0 where absent). */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** Peak resident set size of this process, from /proc/self/status. */
  def vmHwmMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

/** Minimal JSON text builders; values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
