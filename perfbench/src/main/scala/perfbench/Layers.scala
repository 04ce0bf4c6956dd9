package perfbench

import scala.collection.mutable

/** One operation of a lap: `build` is the entry call (SparkEntry query
  * construction, including any eager jobs it runs), `sink` the action that
  * consumes the result. Times are epoch ms for attribution and ns for
  * durations.
  */
final case class OpRec(name: String, isMr: Boolean,
    startMs: Long, buildEndMs: Long, endMs: Long,
    buildNs: Long, sinkNs: Long, totalNs: Long, error: Option[String])

final case class LapRec(startMs: Long, endMs: Long, ns: Long, ops: Seq[OpRec]) {
  def seconds: Double = ns / 1e9
}

/** Cuts a traced lap's events into the per-layer metrics and spans. */
object Layers {
  private def mb(bytes: Long): Double = bytes / 1e6

  private def within(t: Long, w: (Long, Long)): Boolean = t >= w._1 && t <= w._2

  /** Per-layer totals of one traced lap. `tokens` is the MR corpus token
    * count (0 when the workload runs no MR job), `cores` the local slots.
    */
  def metrics(lap: LapRec, ev: Events, tokens: Long, cores: Int): Seq[(String, Double)] = {
    val lapW = (lap.startMs, lap.endMs)
    val lapMs = lap.ns / 1e6
    val buildW = lap.ops.map(o => (o.startMs, o.buildEndMs))
    val sinkW = lap.ops.map(o => (o.buildEndMs, o.endMs))
    val mrW = lap.ops.filter(_.isMr).map(o => (o.buildEndMs, o.endMs))

    val jobs = ev.jobs.filter(j => within(j.startMs, lapW))
    val stages = ev.stages.filter(s => within(s.endMs, lapW))
    val sums = stages.map(_.tasks).foldLeft(TaskSums())(_ + _)

    val planMs = sinkW.map { w =>
      ev.qes.filter(q => within(q.startMs, w)).map(q => Tracer.covered(q.phases, w._1, w._2)).sum
    }.sum.toDouble
    val sinkQes = ev.qes.filter(q => sinkW.exists(within(q.startMs, _)))
    val buildMs = lap.ops.map(_.buildNs).sum / 1e6
    val sinkMs = lap.ops.map(_.sinkNs).sum / 1e6

    val mrStages = stages.filter(s => mrW.exists(within(s.endMs, _)))
    def mrMs(p: StageEv => Boolean): Double =
      mrStages.filter(p).map(s => (s.endMs - s.submitMs).toDouble).sum
    val mrOps = lap.ops.count(_.isMr)
    val mrQes = ev.qes.filter(q => mrW.exists(within(q.startMs, _)))

    val batches = ev.batches.filter(b => within(b.tsMs, lapW))
    val stateRows = batches.groupBy(_.queryId).values.map(_.maxBy(_.tsMs).stateRows).sum

    Seq(
      "entry.build_ms" -> buildMs,
      "entry.build_jobs" -> jobs.count(j => buildW.exists(within(j.startMs, _))).toDouble,
      "plan.ms" -> planMs,
      "plan.nodes" -> sinkQes.map(_.nodes).sum.toDouble,
      "exec.ms" -> (sinkMs - planMs),
      "exec.jobs" -> jobs.count(j => sinkW.exists(within(j.startMs, _))).toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> sums.tasks.toDouble,
      "exec.task_run_ms" -> sums.runMs.toDouble,
      "exec.task_cpu_ms" -> sums.cpuNs / 1e6,
      "exec.task_gc_ms" -> sums.gcMs.toDouble,
      "exec.core_busy_frac" -> sums.runMs / (lapMs * cores),
      "exec.driver_gap_ms" ->
        (lapMs - Tracer.covered(jobs.map(j => (j.startMs, j.endMs)), lap.startMs, lap.endMs)),
      "exec.task_retries" -> sums.retries.toDouble,
      "shuffle.write_mb" -> mb(sums.shWriteBytes),
      "shuffle.read_mb" -> mb(sums.shReadBytes),
      "shuffle.records" -> sums.shWriteRecs.toDouble,
      "shuffle.fetch_wait_ms" -> sums.fetchWaitMs.toDouble,
      "shuffle.spill_mb" -> mb(sums.spillBytes),
      "shuffle.peak_exec_mem_mb" -> mb(sums.peakExecMem),
      // MR stages by shuffle role: the map stage only writes a shuffle,
      // the reduce stage reads one and writes the next, the sink stage
      // reads the last one and writes the text files.
      "mr.map_stage_ms" -> mrMs(s => s.tasks.shWriteBytes > 0 && s.tasks.shReadBytes == 0),
      "mr.reduce_stage_ms" -> mrMs(s => s.tasks.shWriteBytes > 0 && s.tasks.shReadBytes > 0),
      "mr.sink_stage_ms" -> mrMs(s => s.tasks.shWriteBytes == 0 && s.tasks.shReadBytes > 0),
      "mr.shuffles" -> (if (mrOps == 0) 0.0 else mrQes.map(_.shuffles).sum.toDouble / mrOps),
      "mr.shuffle_records_per_token" ->
        (if (tokens == 0) 0.0 else mrStages.map(_.tasks.shWriteRecs).sum.toDouble / tokens),
      "sink.output_mb" -> mb(sums.outBytes),
      "sink.files" -> sums.writingTasks.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms" -> batches.map(_.durMs).sum.toDouble,
      "streaming.state_rows" -> stateRows.toDouble,
      "trace.accounted_frac" -> (buildMs + sinkMs) / lapMs)
  }

  /** Span tree of one traced lap: lap > op > {build, plan, exec} > job > stage. */
  def spans(lapNo: Int, lap: LapRec, ev: Events, nextId: () => Long): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val lapSpan = Span(nextId(), 0, "lap", s"lap$lapNo", lap.startMs, lap.endMs)
    out += lapSpan
    val phases = mutable.ArrayBuffer.empty[Span]
    lap.ops.foreach { o =>
      val op = Span(nextId(), lapSpan.id, "op", o.name, o.startMs, o.endMs,
        Seq("error" -> o.error.getOrElse("")))
      out += op
      val planMs = ev.qes.filter(q => within(q.startMs, (o.buildEndMs, o.endMs)))
        .map(q => Tracer.covered(q.phases, o.buildEndMs, o.endMs)).sum
      phases += Span(nextId(), op.id, "build", o.name, o.startMs, o.buildEndMs)
      phases += Span(nextId(), op.id, "plan", o.name, o.buildEndMs, o.buildEndMs + planMs)
      phases += Span(nextId(), op.id, "exec", o.name, o.buildEndMs + planMs, o.endMs)
    }
    out ++= phases
    val jobSpans = ev.jobs.filter(j => within(j.startMs, (lap.startMs, lap.endMs))).map { j =>
      val parent = phases.filter(p => p.kind != "plan" && within(j.startMs, (p.startMs, p.endMs)))
        .headOption.map(_.id).getOrElse(lapSpan.id)
      Span(nextId(), parent, "job", s"job${j.id}", j.startMs, j.endMs) -> j
    }
    out ++= jobSpans.map(_._1)
    ev.stages.filter(s => within(s.endMs, (lap.startMs, lap.endMs))).foreach { s =>
      val parent = jobSpans.find(_._2.stageIds.contains(s.id)).map(_._1.id).getOrElse(lapSpan.id)
      out += Span(nextId(), parent, "stage", s"stage${s.id}.${s.attempt}", s.submitMs, s.endMs,
        Seq("stage" -> s.name, "tasks" -> s.tasks.tasks, "task_run_ms" -> s.tasks.runMs,
          "shuffle_write_bytes" -> s.tasks.shWriteBytes, "shuffle_read_bytes" -> s.tasks.shReadBytes))
    }
    out.toSeq
  }

  /** Self time per span kind: a span's duration less the part of it its
    * children cover.
    */
  def selfMs(spans: Seq[Span]): Seq[(String, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        (s.endMs - s.startMs - Tracer.covered(kids, s.startMs, s.endMs)).toDouble
      }.sum
    }
  }
}
