package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Each traced pass is measured on
  * its own and every metric is the median over traced passes. Every
  * name in the benchmark's per-layer list is always present: a layer
  * the workload does not touch reads 0.
  */
final case class Layers(wl: Workload, k: Int, setup: Map[String, Double],
                        passes: Seq[PassRun], tracer: Tracer,
                        kernels: Map[String, Double]) {
  import Trace.unionMs

  val CallSiteFiles = Seq("SimilarityOps", "StreamingOps")
  val AllOps: Seq[String] =
    Workloads.FrameOps ++ Workloads.IngestLanes

  private val jobs = tracer.allJobs
  private val traced = passes.filter(_.traced)
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val reconcileBuf = mutable.ArrayBuffer[Map[String, Any]]()

  private def inside(o: OpRun, t: Long) = t >= o.startMs && t <= o.endMs
  private def s(ms: Long) = ms / 1e3
  private def mb(b: Long) = b / 1048576.0

  /** Metrics of one traced pass; also records its spans. */
  private def passMetrics(p: PassRun, passSpan: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def add(key: String, v: Double): Unit = m(key) = m.getOrElse(key, 0.0) + v
    var staleGroup = 0
    var reconcileErr = 0.0
    p.ops.foreach { o =>
      val opSpan = spanBuf.size
      spanBuf += Span(opSpan, passSpan, "op", o.name, o.startMs, o.endMs,
        Map("wall_s" -> o.wallS, "cpu_s" -> o.cpuS))
      val js = jobs.filter(j => inside(o, j.startMs))
      js.foreach { j =>
        val end = if (j.endMs >= 0) j.endMs else o.endMs
        spanBuf += Span(spanBuf.size, opSpan, "job", s"job ${j.id}: ${j.callSite}",
          j.startMs, end, Map("tasks" -> j.tasks.toDouble, "task_run_s" -> s(j.runMs)))
        if (j.groupOp != o.name) staleGroup += 1
      }
      val iv = js.map(j => (j.startMs, if (j.endMs >= 0) j.endMs else o.endMs))
      val inJob = s(unionMs(iv))
      val clipped = s(unionMs(iv.map { case (a, b) => (a, math.min(b, o.endMs)) }))
      val driverOnly = math.max(0.0, o.wallS - clipped)
      val err = math.abs(driverOnly + inJob - o.wallS)
      reconcileErr = math.max(reconcileErr, err)
      reconcileBuf += Map("pass" -> p.index, "op" -> o.name, "wall_s" -> o.wallS,
        "in_job_s" -> inJob, "driver_only_s" -> driverOnly, "error_s" -> err)
      add(s"op.${o.name}.wall_s", o.wallS)
      add(s"op.${o.name}.jobs", js.size)
      add(s"op.${o.name}.driver_only_s", driverOnly)
      add("driver.only_s", driverOnly)
      add("driver.jobs", js.size)
      add("exec.in_job_s", inJob)
      js.foreach { j =>
        add("exec.tasks", j.tasks)
        add("exec.task_run_s", s(j.runMs))
        add("exec.task_cpu_s", j.cpuNs / 1e9)
        add("exec.gc_s", s(j.gcMs))
        add("exec.deser_s", s(j.deserMs))
        add("exec.shuffle_write_mb", mb(j.shuffleWrite))
        add("exec.shuffle_read_mb", mb(j.shuffleRead))
        add("exec.fetch_wait_s", s(j.fetchWaitMs))
        add("exec.spill_mb", mb(j.spill))
        val file = Trace.callSiteFile(j.callSite)
        if (CallSiteFiles.contains(file)) {
          add(s"callsite.$file.jobs", 1)
          add(s"callsite.$file.in_job_s", s(math.max(0L, j.endMs - j.startMs)))
        }
      }
      tracer.queries.forEach { case (start, ms) =>
        if (inside(o, start)) { add("driver.actions", 1); add("catalyst.plan_s", s(ms)) }
      }
      tracer.progress.forEach { case (start, d) =>
        if (inside(o, start)) {
          add("stream.batches", 1)
          add("stream.batch_s", s(d.getOrElse("triggerExecution", 0L)))
          add("stream.addbatch_s", s(d.getOrElse("addBatch", 0L)))
          add("stream.commit_s", s(d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
        }
      }
      add("io.fs_read_ops", o.fsReadOps)
      add("io.fs_write_ops", o.fsWriteOps)
      add("io.fs_written_mb", mb(o.fsWritten))
      add("io.disk_read_mb", mb(o.diskRead))
      add("io.disk_write_mb", mb(o.diskWrite))
      add("jvm.gc_s", o.gcS)
      if (Workloads.FrameOps.contains(o.name)) add(s"mem.rss_${o.name}_mb", o.rssMb)
      o.sub.get("infer").foreach { inf =>
        add("sources.infer_s", inf)
        o.sub.get("rows").foreach(r => add("sources.parse_rows_per_s", r / math.max(1e-9, o.wallS - inf)))
      }
    }
    val inJob = m.getOrElse("exec.in_job_s", 0.0)
    if (inJob > 0) m("exec.slot_use") = m.getOrElse("exec.task_run_s", 0.0) / (inJob * k)
    m("trace.stale_group_jobs") = staleGroup
    m("trace.reconcile_err_s") = reconcileErr
    m.toMap
  }

  val (metrics: Map[String, Double], spans: Seq[Span], reconcile: Seq[Map[String, Any]]) = {
    val t0 = passes.head.ops.head.startMs
    val t1 = passes.last.ops.last.endMs
    spanBuf += Span(0, -1, "workload", wl.name, t0, t1)
    val perPass = traced.map { p =>
      val id = spanBuf.size
      spanBuf += Span(id, 0, "pass", s"pass ${p.index}", p.ops.head.startMs, p.ops.last.endMs,
        Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS))
      passMetrics(p, id)
    }
    val names = Layers.names(AllOps, CallSiteFiles)
    def med(key: String) = Stats.median(perPass.map(_.getOrElse(key, 0.0)))
    // the first timed pass still carries JIT warm-up: leave it out
    val untracedWall = Stats.median(passes.filterNot(_.traced).drop(1).map(_.wallS))
    val tracedWall = Stats.median(traced.map(_.wallS))
    val fixed = Map(
      "setup.session_s" -> setup("session_s"),
      "setup.prebuild_s" -> setup("prebuild_s"),
      "setup.warm_s" -> setup("warm_s"),
      "trace.overhead_s" -> (tracedWall - untracedWall))
    val all = names.map(n => n -> fixed.getOrElse(n, kernels.getOrElse(n, med(n)))).toMap
    (all, spanBuf.toSeq, reconcileBuf.toSeq)
  }
}

object Layers {
  /** Every per-layer metric name, in a fixed order. */
  def names(ops: Seq[String], files: Seq[String]): Seq[String] =
    Seq("driver.only_s", "driver.jobs", "driver.actions", "catalyst.plan_s",
      "exec.in_job_s", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.slot_use",
      "exec.gc_s", "exec.deser_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
      "exec.fetch_wait_s", "exec.spill_mb", "sources.infer_s", "sources.parse_rows_per_s") ++
      ops.flatMap(o => Seq(s"op.$o.wall_s", s"op.$o.jobs", s"op.$o.driver_only_s")) ++
      files.flatMap(f => Seq(s"callsite.$f.in_job_s", s"callsite.$f.jobs")) ++
      Seq("io.fs_read_ops", "io.fs_write_ops", "io.fs_written_mb", "io.disk_read_mb",
        "io.disk_write_mb", "stream.batches", "stream.batch_s", "stream.addbatch_s",
        "stream.commit_s", "kernel.hash64_rows_per_s", "kernel.shingles_rows_per_s",
        "kernel.minhash_rows_per_s") ++
      Workloads.FrameOps.map(o => s"mem.rss_${o}_mb") ++
      Seq("jvm.gc_s", "setup.session_s", "setup.prebuild_s", "setup.warm_s",
        "trace.overhead_s", "trace.stale_group_jobs", "trace.reconcile_err_s")
}
