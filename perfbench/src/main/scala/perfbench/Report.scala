package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Turns a finished run into its metrics, the run record run.py reads,
  * and (traced runs) the trace file. */
object Report {
  /** Bounded metrics every workload reports from untraced runs. The
    * printed record also carries op latency and the workload's own
    * figures, which spread too much between runs to carry a bound. */
  val EndToEnd: Seq[String] = Seq("setup_s", "pass_s", "retained_heap_mb")

  /** Per-layer metrics every traced run reports; a layer the workload
    * does not reach reads 0. Unit per name. */
  val Layers: ListMap[String, String] = ListMap(
    "relational.build_s" -> "s", "relational.build_jobs" -> "count",
    "plans.plan_s" -> "s",
    "scan.input_mb" -> "MB", "scan.files" -> "count", "scan.rows" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "tasks.count" -> "count", "tasks.run_s" -> "s", "tasks.cpu_s" -> "s",
    "tasks.gc_s" -> "s", "tasks.spill_mb" -> "MB",
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.gap_s" -> "s",
    "operators.pregel_jobs" -> "count",
    "cache.persisted_after" -> "count", "cache.storage_mb" -> "MB",
    "io.meta_s" -> "s", "io.log_kb" -> "KB",
    "io.merge_s" -> "s", "io.delete_s" -> "s", "io.update_s" -> "s",
    "io.append_s" -> "s", "io.bytes_written_mb" -> "MB",
    "io.read_s" -> "s", "io.range_read_s" -> "s", "io.timetravel_s" -> "s",
    "io.cdc_s" -> "s", "io.range_files_frac" -> "ratio",
    "io.compact_s" -> "s", "io.files_live" -> "count",
    "streams.reduce_s" -> "s", "streams.group_s" -> "s",
    "streams.flatmap_s" -> "s", "streams.order_s" -> "s",
    "commit_p50_s" -> "s", "read_p50_s" -> "s", "storage_amp" -> "ratio")

  private def secs(ns: Long): Double = ns / 1e9
  private def mb(b: Long): Double = b / 1048576.0

  def endToEnd(r: RunResult): ListMap[String, Metric] = {
    val opSecs = r.measured.map(_.secs)
    val (tailV, tailP) = Stats.tail(opSecs, 90)
    ListMap(
      "setup_s" -> Metric(Stats.median(r.setups), "s", r.setups.size, "median of set-up rounds"),
      "pass_s" -> Metric(Stats.median(r.passSecs), "s", r.passSecs.size, "median over passes"),
      "op_p50_s" -> Metric(Stats.median(opSecs), "s", opSecs.size, "p50"),
      "op_p90_s" -> Metric(tailV, "s", opSecs.size, s"p$tailP"),
      "retained_heap_mb" -> Metric(r.heapMb, "MB", 1, "after the session stopped and a full GC"))
  }

  /** Which op each Spark job belongs to: by the span id the job
    * carries, else by start time. */
  private def jobOwners(r: RunResult, jobs: Seq[JobRec]): Map[Int, OpRecord] = {
    val opBySpan = r.measured.map(o => o.spanId -> o).toMap
    val phaseToOp = r.spans.filter(_.kind == "phase")
      .flatMap(s => opBySpan.get(s.parent).map(s.id -> _)).toMap
    val tol = 1000000L
    jobs.flatMap { j =>
      opBySpan.get(j.span).orElse(phaseToOp.get(j.span)).orElse(
        r.measured.find(o => j.startMs * 1000000L >= o.start - tol &&
          j.startMs * 1000000L <= o.end + tol))
        .map(j.id -> _)
    }.toMap
  }

  def layers(r: RunResult, probe: Probe, extra: Map[String, Metric]): ListMap[String, Metric] = {
    val passes = math.max(1, r.passSecs.size)
    val nOps = r.measured.size
    val jobs = probe.jobs
    val owners = jobOwners(r, jobs)
    val mJobs = jobs.filter(j => owners.contains(j.id))
    val mJobIds = mJobs.map(_.id).toSet
    val stages = probe.stages.filter(s => mJobIds(s.jobId))
    val phaseName = r.spans.filter(_.kind == "phase").map(s => s.id -> s.name).toMap
    def phaseSecs(name: String) = r.spans.filter(s => s.kind == "phase" && s.name == name &&
      r.measured.exists(_.spanId == s.parent)).map(_.dur).sum / 1e9
    val scans = probe.scans.filter(s => r.measured.exists(o =>
      s.endMs * 1000000L >= o.start - 1000000L && s.endMs * 1000000L <= o.end + 1000000L))
    val gap = r.measured.map { o =>
      val iv = mJobs.filter(j => owners(j.id) eq o).map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
      (o.end - o.start) - Trace.covered(o.start, o.end, iv)
    }.sum
    def per(v: Double) = v / passes
    def sumS(f: StageRec => Long) = stages.map(f).sum
    val common = ListMap[String, Metric](
      "relational.build_s" -> Metric(per(phaseSecs("build")), "s", passes),
      "relational.build_jobs" -> Metric(per(mJobs.count(j => phaseName.get(j.span).contains("build"))), "count", passes),
      "plans.plan_s" -> Metric(per(phaseSecs("plan")), "s", passes),
      "scan.input_mb" -> Metric(per(mb(sumS(_.inputBytes))), "MB", passes),
      "scan.files" -> Metric(per(scans.map(_.files).sum.toDouble), "count", passes),
      "scan.rows" -> Metric(per(sumS(_.inputRows).toDouble), "count", passes),
      "shuffle.write_mb" -> Metric(per(mb(sumS(_.shuffleWriteBytes))), "MB", passes),
      "shuffle.read_mb" -> Metric(per(mb(sumS(_.shuffleReadBytes))), "MB", passes),
      "shuffle.fetch_wait_s" -> Metric(per(sumS(_.fetchWaitMs) / 1e3), "s", passes),
      "tasks.count" -> Metric(per(sumS(_.tasks.toLong).toDouble), "count", passes),
      "tasks.run_s" -> Metric(per(sumS(_.runMs) / 1e3), "s", passes),
      "tasks.cpu_s" -> Metric(per(sumS(_.cpuNs) / 1e9), "s", passes),
      "tasks.gc_s" -> Metric(per(sumS(_.gcMs) / 1e3), "s", passes),
      "tasks.spill_mb" -> Metric(per(mb(sumS(_.spillBytes))), "MB", passes),
      "driver.jobs" -> Metric(per(mJobs.size.toDouble), "count", passes),
      "driver.stages" -> Metric(per(stages.size.toDouble), "count", passes),
      "driver.gap_s" -> Metric(per(secs(gap)), "s", passes),
      "operators.pregel_jobs" -> Metric(per(mJobs.count(_.desc.startsWith("pregel")).toDouble), "count", passes),
      "cache.persisted_after" -> Metric(
        if (nOps == 0) 0.0 else r.measured.map(_.persistedAfter).sum.toDouble / nOps, "count", nOps),
      "cache.storage_mb" -> Metric(
        if (nOps == 0) 0.0 else r.measured.map(_.storageMb).sum / nOps, "MB", nOps))
    ListMap.from(Layers.map { case (k, u) =>
      k -> common.get(k).orElse(extra.get(k)).getOrElse(Metric(0.0, u, 0, "layer not reached"))
    })
  }

  /** Job and stage spans under the benchmark spans, for the trace file. */
  private def sparkSpans(r: RunResult, probe: Probe): Seq[Span] = {
    val jobs = probe.jobs
    val owners = jobOwners(r, jobs)
    var id = r.spans.map(_.id).foldLeft(0L)(math.max) + 1
    val jobSpan = jobs.map { j =>
      val parent = if (r.spans.exists(_.id == j.span)) j.span
                   else owners.get(j.id).map(_.spanId).getOrElse(0L)
      val s = Span(id, parent, s"job ${j.id}", "job", j.startMs * 1000000L, j.endMs * 1000000L,
        Map("description" -> j.desc))
      id += 1
      j.id -> s
    }.toMap
    val stageSpans = probe.stages.map { st =>
      val s = Span(id, jobSpan.get(st.jobId).map(_.id).getOrElse(0L), s"stage ${st.id}.${st.attempt}",
        "stage", st.startMs * 1000000L, st.endMs * 1000000L,
        Map("tasks" -> st.tasks, "run_ms" -> st.runMs, "input_bytes" -> st.inputBytes,
          "shuffle_read_bytes" -> st.shuffleReadBytes, "shuffle_write_bytes" -> st.shuffleWriteBytes))
      id += 1
      s
    }
    jobSpan.values.toSeq ++ stageSpans
  }

  def write(cfg: RunConfig, r: RunResult, workloadLayers: Map[String, Metric]): Unit = {
    val metrics: ListMap[String, Metric] = r.probe match {
      case Some(p) => layers(r, p, workloadLayers ++ r.extra)
      case None => endToEnd(r) ++ r.extra
    }
    val failures = r.ops.filter(o => o.status == "wrong" || o.status == "error")
    val rec = ListMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "cores" -> cfg.cores, "spark_version" -> r.sparkVersion,
      "jdk" -> System.getProperty("java.version"), "data_hash" -> r.dataHash,
      "attempted" -> r.ops.size, "failed" -> failures.size,
      "passes" -> r.passSecs.size,
      "pass_secs" -> r.passSecs, "setup_secs" -> r.setups,
      "failures" -> failures.map(o => ListMap("op" -> o.name, "pass" -> o.pass,
        "status" -> o.status, "detail" -> o.detail)),
      "ops" -> r.ops.map(o => ListMap("op" -> o.name, "pass" -> o.pass, "secs" -> o.secs,
        "status" -> o.status)),
      "deferred" -> r.ops.flatMap(o => o.deferred.map(_ + ("pass" -> o.pass))),
      "metrics" -> metrics.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit, "n" -> m.n, "note" -> m.note) },
      "contract" -> (if (cfg.trace) Layers.keys.toSeq else EndToEnd))
    Files.writeString(Paths.get(cfg.out), Json(rec))
    r.probe.foreach { p =>
      val all = r.spans ++ sparkSpans(r, p)
      val self = Trace.selfTimes(all)
      val byKind = all.groupBy(_.kind).map { case (k, ss) =>
        k -> ListMap("spans" -> ss.size, "total_s" -> ss.map(_.dur).sum / 1e9,
          "self_s" -> ss.map(s => self(s.id)).sum / 1e9) }
      val perOp = r.ops.map { o =>
        val kids = all.filter(_.parent == o.spanId)
        ListMap("op" -> o.name, "kind" -> o.kind, "pass" -> o.pass, "secs" -> o.secs,
          "status" -> o.status, "self_s" -> self.getOrElse(o.spanId, 0L) / 1e9,
          "phases" -> ListMap.from(kids.filter(_.kind == "phase").map(k => k.name -> k.dur / 1e9)))
      }
      val trace = ListMap[String, Any](
        "workload" -> cfg.workload, "seed" -> cfg.seed,
        "self_time_by_kind" -> byKind, "ops" -> perOp,
        "spans" -> all.sortBy(_.start).map(s => ListMap("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_ns" -> self(s.id), "attrs" -> s.attrs)))
      Files.writeString(Paths.get(cfg.traceOut), Json(trace))
    }
  }
}
