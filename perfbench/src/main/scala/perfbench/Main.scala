package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op call inside a pass, with the process readings around it. */
final case class OpRun(name: String, startMs: Long, endMs: Long, wallS: Double,
                       cpuS: Double, gcS: Double, diskRead: Long, diskWrite: Long,
                       fsReadOps: Long, fsWriteOps: Long, fsWritten: Long,
                       rssMb: Double, sub: Map[String, Double])

final case class PassRun(index: Int, traced: Boolean, ops: Seq[OpRun]) {
  def wallS: Double = ops.map(_.wallS).sum
  def cpuS: Double = ops.map(_.cpuS).sum
}

/** The benchmark process for one workload run. Usage (normally through
  * run.py, which builds, generates the inputs and checks the outputs):
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <frameDir> <frameRows>
  *     <corpusDir> <outDir> [faultOp]
  *
  * It sets up once (session start, artifact pre-build, a warm pass that
  * runs every op once and checks its output), then runs timed passes
  * over the workload's op list until `seconds` have elapsed, and writes
  * result.json (and trace.json when traced) to outDir.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wlName, secondsArg, traceArg, frameDir, frameRows, corpusDir, outDir) =
      args.take(7)
    val fault = args.lift(7).filter(_.nonEmpty)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val k = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val wl = Workloads(wlName, frameDir, frameRows.toLong, corpusDir, outDir)
    val loadStart = Proc.loadAvg1m

    var attempted = 0L
    val errors = mutable.ArrayBuffer[String]()

    def runOp(c: Ctx, op: Op): OpRun = {
      attempted += 1
      val (dr0, dw0) = Proc.diskIo()
      val (fr0, fw0, fb0) = Proc.hadoopFs()
      val cpu0 = Proc.cpuS
      val gc0 = Proc.gcS
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try { op.run(c); None }
        catch { case e: Exception => Some(s"${op.name}: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val cpu = Proc.cpuS - cpu0
      val gc = Proc.gcS - gc0
      val (dr1, dw1) = Proc.diskIo()
      val (fr1, fw1, fb1) = Proc.hadoopFs()
      err.foreach(errors += _)
      OpRun(op.name, startMs, endMs, wall, cpu, gc, dr1 - dr0, dw1 - dw0,
        fr1 - fr0, fw1 - fw0, fb1 - fb0, Proc.statusMb("VmRSS"), c.sub.toMap)
    }

    def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): PassRun = {
      System.gc()
      tracer.foreach(_.attach())
      val runs = wl.ops.map { op =>
        if (wl.clearBetweenOps) spark.catalog.clearCache()
        tracer.foreach(t => spark.sparkContext.setLocalProperty(t.OpProperty, op.name))
        runOp(new Ctx(spark), op)
      }
      tracer.foreach { t =>
        spark.sparkContext.setLocalProperty(t.OpProperty, null)
        t.detach()
      }
      PassRun(index, tracer.isDefined, runs)
    }

    // ---- set-up: session start, artifact pre-build, and a warm pass
    //      that runs every op once and checks its output ----
    val t0 = System.nanoTime()
    val spark = graft.Sessions.benchSession(s"perfbench-$wlName")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    try wl.prebuild(spark)
    catch { case e: Exception => errors += s"prebuild: $e" }
    val t2 = System.nanoTime()
    val checkDir = s"$outDir/checks"
    new java.io.File(checkDir).mkdirs()
    val checks = wl.check(spark, checkDir, fault)
    attempted += checks.size
    val t3 = System.nanoTime()
    val setup = Map("session_s" -> (t1 - t0) / 1e9, "prebuild_s" -> (t2 - t1) / 1e9,
      "warm_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9)

    // ---- timed passes: untraced, or untraced and traced interleaved
    //      U T T U ..., so both kinds see the same JIT and cache state ----
    val passes = mutable.ArrayBuffer[PassRun]()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (passes.size < (if (traced) 4 else 1) || elapsed < seconds) {
      val i = passes.size
      passes += pass(spark, i, tracer.filter(_ => i % 4 == 1 || i % 4 == 2))
    }
    val peakRss = Proc.statusMb("VmHWM")

    val kernels = if (traced) wl.kernels(spark) else Map.empty[String, Double]
    // the first timed pass is a warm-up repetition, as in graft.Bench:
    // it still carries JIT compilation, so the medians leave it out
    val untraced = passes.filterNot(_.traced)
    val measured = if (untraced.size > 1) untraced.drop(1) else untraced
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> wlName, "k" -> k, "seconds" -> seconds,
      "loadavg_start" -> loadStart, "loadavg_end" -> Proc.loadAvg1m,
      "setup" -> setup,
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "ops" -> p.ops.map(o => o.name -> o.wallS).toMap)),
      "measured_passes" -> measured.size,
      "wall_s" -> Stats.median(measured.map(_.wallS).toSeq),
      "cpu_s" -> Stats.median(measured.map(_.cpuS).toSeq),
      "op_wall_s" -> wl.ops.map(o => o.name ->
        Stats.median(measured.map(_.ops.find(_.name == o.name).get.wallS).toSeq)).toMap,
      "peak_rss_mb" -> peakRss,
      "attempted" -> attempted, "errors" -> errors,
      "checks" -> checks.map(c => Map("op" -> c.op, "ok" -> c.ok, "detail" -> c.detail,
        "sql" -> c.sql, "rows" -> c.rows)))
    tracer.foreach { t =>
      val layers = Layers(wl, k, setup, passes.toSeq, t, kernels)
      result("layers") = layers.metrics
      result("reconcile") = layers.reconcile
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/trace.json"),
        Json(Map("workload" -> wlName, "spans" -> layers.spans.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/result.json"),
      Json(result))
    spark.stop()
  }
}
