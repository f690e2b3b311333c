package graftbench

import Main.median

/** Per-layer metrics of the traced phase of a run.
  *
  * `ops` are the phase's timed operations. Counters are averaged per
  * operation, times are medians over calls, so runs of different length
  * compare. A layer the workload bypasses reports 0.
  */
final class Report(rec: Recorder, ops: Seq[Op]) {
  private val n = math.max(1, ops.size).toDouble
  private val spans = rec.allSpans
  private val jobs = rec.jobs
  private def spanMs(name: String): Double =
    median(spans.filter(_.name == name).map(_.ms))
  private def jobsOf(layers: String*): Seq[JobRec] =
    jobs.collect { case (j, _, l) if layers.contains(l) => j }
  private def sum(js: Seq[JobRec])(f: Counters => Double): Double =
    js.map(j => f(j.c)).sum

  def metrics(untraced: Seq[Op]): Map[String, Double] = {
    val all = jobs.map(_._1)
    val scans = jobs.collect { case (j, _, l)
      if l != "bulk" && l != "streaming" => j }
    val sampled = rec.sampledSeconds
    val text = jobsOf("text")
    val dedup = jobsOf("dedup")
    val stream = jobsOf("streaming")
    val progress = rec.progress
    val perTick = progress.groupMap(_._1)(_._2).values.toSeq
    def tickMs(keys: String*): Double = median(perTick.map(ps =>
      ps.map(p => keys.map(k => p.durations.getOrElse(k, 0L)).sum).sum
        .toDouble))
    val inputRows = progress.map(_._2.inputRows).sum
    val bulkGroups = rec.bulkJobs
    val pollWait = bulkGroups.flatMap { case (g, _, returned) =>
      val ends = all.filter(_.group == g).map(_.endMs)
      if (ends.isEmpty) None else Some((returned - ends.max).toDouble)
    }
    val w0 = if (ops.isEmpty) 0L else ops.map(_.startNs).min
    val w1 = if (ops.isEmpty) 0L else ops.map(_.endNs).max
    val wallMs = (w1 - w0) / 1e6
    Map(
      "soql.parse_ms" -> spanMs("soql.parse"),
      "soql.translate_ms" -> spanMs("soql.translate"),
      "plan.catalyst_ms" -> spanMs("plan.catalyst"),
      "tables.scan_tasks" -> sum(scans)(_.inTasks) / n,
      "tables.rows_read" -> sum(scans)(_.inRows) / n,
      "tables.bytes_read" -> sum(scans)(_.inBytes) / n,
      "text.construct_s" -> sampled.getOrElse("text", 0.0) / n,
      "text.exec_s" -> sum(text)(_.runMs / 1e3) / n,
      "text.jobs" -> text.size / n,
      "dedup.construct_s" -> sampled.getOrElse("dedup", 0.0) / n,
      "dedup.exec_s" -> sum(dedup)(_.runMs / 1e3) / n,
      "dedup.jobs" -> dedup.size / n,
      "bulk.job_ms" -> median(bulkGroups.map(b => (b._3 - b._2).toDouble)),
      "bulk.poll_wait_ms" -> median(pollWait),
      "bulk.csv_bytes" -> rec.notesOf("bulk.csv_bytes").sum / n,
      "schema.map_ms" -> spanMs("schema.map"),
      "schema.ddl_ms" -> spanMs("schema.ddl"),
      "streaming.trigger_ms" -> tickMs("triggerExecution"),
      "streaming.add_batch_ms" -> tickMs("addBatch"),
      "streaming.planning_ms" -> tickMs("queryPlanning"),
      "streaming.commit_ms" -> tickMs("commitOffsets", "walCommit"),
      "streaming.bytes_written" -> sum(stream)(_.outBytes) / n,
      "streaming.rewrite_ratio" ->
        (if (inputRows == 0) 0.0 else sum(stream)(_.outRows) / inputRows),
      "spark.jobs" -> all.size / n,
      "spark.stages" -> sum(all)(_.stages) / n,
      "spark.tasks" -> sum(all)(_.tasks) / n,
      "spark.serial_stages" -> sum(all)(_.serialStages) / n,
      "spark.executor_run_s" -> sum(all)(_.runMs / 1e3) / n,
      "spark.executor_cpu_s" -> sum(all)(_.cpuNs / 1e9) / n,
      "spark.sched_delay_s" -> sum(all)(_.schedMs / 1e3) / n,
      "spark.shuffle_read_bytes" -> sum(all)(_.shuffleRead) / n,
      "spark.shuffle_write_bytes" -> sum(all)(_.shuffleWrite) / n,
      "spark.spill_bytes" -> sum(all)(_.spill) / n,
      "spark.peak_exec_mem_mb" ->
        (if (all.isEmpty) 0.0 else all.map(_.c.peakMem).max / 1048576.0),
      "spark.result_bytes" -> sum(all)(_.resultBytes) / n,
      "spark.driver_gap_s" -> driverGapMs(all, w0, w1) / 1e3 / n,
      "spark.core_util" ->
        (if (wallMs <= 0) 0.0 else sum(all)(_.runMs) / (wallMs * 4)),
      "trace.overhead_pct" -> {
        val u = median(untraced.filter(_.error.isEmpty).map(_.ms))
        val t = median(ops.filter(_.error.isEmpty).map(_.ms))
        if (u <= 0) 0.0 else (t / u - 1) * 100
      })
  }

  /** Wall time in [w0, w1] (System.nanoTime) during which no job ran. */
  private def driverGapMs(js: Seq[JobRec], w0: Long, w1: Long): Double = {
    val lo = rec.epochMsOf(w0)
    val hi = rec.epochMsOf(w1)
    val iv = js.map(j => (math.max(lo, j.startMs), math.min(hi, j.endMs)))
      .filter(x => x._1 < x._2).sortBy(_._1)
    var covered = 0L
    var cur = lo
    iv.foreach { case (s, e) =>
      val s1 = math.max(s, cur)
      if (e > s1) { covered += e - s1; cur = e }
    }
    (hi - lo - covered).toDouble
  }

  /** Self time and Spark counters per layer, as a text table. Driver time
    * a sampled span spent in another layer's code is moved to that layer. */
  def table: String = {
    val self = rec.sampledMoves.foldLeft(rec.selfTime) {
      case (m, (from, to, s)) =>
        m.updated(from, m.getOrElse(from, 0.0) - s * 1e3)
          .updated(to, m.getOrElse(to, 0.0) + s * 1e3)
    }
    val byLayer = jobs.groupMap(_._3)(_._1)
    val layers = (self.keySet ++ byLayer.keySet).toSeq.sorted
    val head = f"${"layer"}%-10s ${"calls"}%7s ${"self_s"}%9s ${"jobs"}%6s " +
      f"${"tasks"}%7s ${"exec_run_s"}%10s"
    val rows = layers.map { l =>
      val js = byLayer.getOrElse(l, Nil)
      f"$l%-10s ${spans.count(_.layer == l)}%7d ${self.getOrElse(l, 0.0) / 1e3}%9.3f " +
        f"${js.size}%6d ${js.map(_.c.tasks).sum}%7d " +
        f"${js.map(_.c.runMs).sum / 1e3}%10.3f"
    }
    (head +: rows).mkString("\n")
  }
}
