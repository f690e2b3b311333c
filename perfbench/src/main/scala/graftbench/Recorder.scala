package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer: `op` is the request, iteration or tick id
  * the call served; times are nanoseconds since the recorder started. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    op: Long, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Task-level Spark counters summed over one job. */
final class Counters {
  var stages, tasks, serialStages = 0L
  var runMs, cpuNs, schedMs, shuffleRead, shuffleWrite, spill = 0L
  var resultBytes, inTasks, inRows, inBytes, outBytes, outRows = 0L
  var peakMem = 0L
  def add(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; serialStages += o.serialStages
    runMs += o.runMs; cpuNs += o.cpuNs; schedMs += o.schedMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; resultBytes += o.resultBytes; inTasks += o.inTasks
    inRows += o.inRows; inBytes += o.inBytes; outBytes += o.outBytes
    outRows += o.outRows; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** One Spark job as the listener saw it. `group` is its job group. */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    c: Counters)

/** Span recorder for the traced run.
  *
  * Every call the benchmark makes into a layer runs inside [[span]], which
  * gives the call its own Spark job group (`span-<id>`). The listeners
  * below attribute job, stage and task counters to groups, never to time
  * windows, so a straggling task is charged to the span that launched it.
  * Groups that Spark or the engine set themselves (a bulk job's id, a
  * streaming query's run id) are tied to the enclosing span with [[bind]].
  *
  * When `on` is false every method is a pass-through, so the untraced run
  * pays nothing for the recorder.
  */
final class Recorder(spark: SparkSession, val on: Boolean) {
  private val t0 = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]()
  /** Sampled layer time inside a span: (span id, layer) -> nanoseconds. */
  private val sampled = new ConcurrentHashMap[(Long, String), java.lang.Long]()
  /** Sampler timelines: span id -> (epoch ms, layer) samples. */
  private val timelines =
    new ConcurrentHashMap[Long, mutable.ArrayBuffer[(Long, String)]]()

  if (on) Recorder.install(spark)

  def nowNs: Long = System.nanoTime() - t0

  /** Run `body` as a span of `layer`. */
  def span[T](layer: String, name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty(Recorder.JobGroupKey)
      val prevDesc = sc.getLocalProperty(Recorder.JobDescKey)
      val group = s"span-$id"
      groupSpan.put(group, id)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack.set(id :: stack.get)
      val s = nowNs
      try body
      finally {
        val e = nowNs
        stack.set(stack.get.tail)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
        spans.add(Span(id, name, layer, parent, op, s, e))
      }
    }

  /** Named per-op measurements (bytes, counts) taken by a workload. */
  private val notes = new ConcurrentLinkedQueue[(String, Double)]()
  def note(name: String, value: Double): Unit =
    if (on) notes.add((name, value))
  def notesOf(name: String): Seq[Double] =
    notes.asScala.toSeq.filter(_._1 == name).map(_._2)

  /** Bulk jobs: (job group, created epoch ms, awaitJob returned epoch ms). */
  private val awaited = new ConcurrentLinkedQueue[(String, Long, Long)]()
  def bulkAwaited(group: String, createdMs: Long, returnedMs: Long): Unit =
    if (on) awaited.add((group, createdMs, returnedMs))
  def bulkJobs: Seq[(String, Long, Long)] = awaited.asScala.toSeq

  /** Charge jobs of an externally named job group to the current span. */
  def bind(group: String): Unit =
    if (on) stack.get.headOption.foreach(id => groupSpan.put(group, id))

  /** Run `body` as a span and split its driver time between the engine
    * layers it calls into, by sampling the calling thread's stack every
    * few milliseconds. A registry function such as t_curate calls into
    * ops.Dedup from inside ops.Text; only the stack shows where the time
    * went. Each sample is charged to the innermost frame of a layer in
    * `layers` (class-name prefix -> layer); samples with no such frame
    * go to the span's own layer.
    */
  def sampledSpan[T](layer: String, name: String, op: Long,
      layers: Seq[(String, String)])(body: => T): T =
    if (!on) body
    else span(layer, name, op) {
      val id = stack.get.head
      val target = Thread.currentThread()
      val line = mutable.ArrayBuffer.empty[(Long, String)]
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val sampler = new Thread(() => {
        var last = System.nanoTime()
        while (running.get) {
          Thread.sleep(Recorder.SampleMs)
          val frames = target.getStackTrace
          val l = frames.iterator.map(_.getClassName)
            .flatMap(c => layers.collectFirst { case (p, l) if c.startsWith(p) => l })
            .nextOption().getOrElse(layer)
          val now = System.nanoTime()
          sampled.merge((id, l), now - last, (a, b) => a + b)
          line.synchronized(line += ((System.currentTimeMillis(), l)))
          last = now
        }
      }, "graftbench-sampler")
      sampler.setDaemon(true)
      sampler.start()
      try body
      finally {
        running.set(false)
        sampler.join()
        timelines.put(id, line)
      }
    }

  /** Wait until the listener buses have been quiet for a while, so every
    * job, task and streaming progress event of the run has arrived. */
  def drain(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        Recorder.events.get != last) {
      last = Recorder.events.get
      Thread.sleep(400)
    }
  }

  // ---------------------------------------------------------------------
  // reports

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  private def spanOf(group: String): Option[Span] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    Option(groupSpan.get(group)).flatMap(id => byId.get(id.longValue))
  }

  /** Jobs launched in spans, each with the layer it is charged to: the
    * span's layer, or for a sampled span the layer the sampler saw when
    * the job started. */
  def jobs: Seq[(JobRec, Span, String)] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    Recorder.jobs.asScala.toSeq.flatMap { j =>
      Option(groupSpan.get(j.group)).flatMap(id => byId.get(id.longValue))
        .map { s =>
          val layer = Option(timelines.get(s.id)).filter(_.nonEmpty)
            .map(tl => tl.minBy(x => math.abs(x._1 - j.startMs))._2)
            .getOrElse(s.layer)
          (j, s, layer)
        }
    }
  }

  /** Sampled driver seconds per layer. */
  def sampledSeconds: Map[String, Double] =
    sampled.asScala.toSeq.groupMapReduce(_._1._2)(_._2.longValue / 1e9)(_ + _)

  /** Sampled seconds a span spent in another layer's code:
    * (span layer, sampled layer, seconds). */
  def sampledMoves: Seq[(String, String, Double)] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    sampled.asScala.toSeq.flatMap { case ((id, l), ns) =>
      byId.get(id).filter(_.layer != l).map(s => (s.layer, l, ns / 1e9))
    }
  }

  /** Streaming progress of queries bound to spans, keyed by the op (tick)
    * the query served. */
  def progress: Seq[(Long, Recorder.Progress)] =
    Recorder.progress.asScala.toSeq.flatMap(p =>
      spanOf(p.runId).map(s => s.op -> p))

  /** Self time per layer: span time minus the time of its child spans. */
  def selfTime: Map[String, Double] = {
    val ss = allSpans
    val child = ss.groupMapReduce(_.parent)(_.ms)(_ + _)
    ss.groupMapReduce(_.layer)(s => s.ms - child.getOrElse(s.id, 0.0))(_ + _)
  }

  /** Epoch ms of a System.nanoTime reading. */
  def epochMsOf(nanoTime: Long): Long = t0Ms + (nanoTime - t0) / 1000000

  /** Spans as JSON lines (name, layer, start, end, parent, op). */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.foreach(s => w.println(
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"op":${s.op},"start_ns":${s.start},""" +
        s""""end_ns":${s.end}}"""))
    finally w.close()
  }
}

object Recorder {
  val SampleMs = 5L
  /** SparkContext local-property keys of setJobGroup. */
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"

  final case class Progress(runId: String, batchId: Long, inputRows: Long,
      durations: Map[String, Long])

  private[graftbench] val events = new AtomicLong(0)
  private[graftbench] val jobs = new ConcurrentLinkedQueue[JobRec]()
  private[graftbench] val progress = new ConcurrentLinkedQueue[Progress]()

  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobCounters = new ConcurrentHashMap[Int, Counters]()
  @volatile private var installedOn: SparkContext = _

  /** Install the listeners once per SparkContext. */
  def install(spark: SparkSession): Unit = synchronized {
    if (installedOn ne spark.sparkContext) {
      spark.sparkContext.addSparkListener(JobListener)
      spark.streams.addListener(ProgressListener)
      installedOn = spark.sparkContext
    }
  }

  private def counters(job: Int): Counters =
    jobCounters.computeIfAbsent(job, _ => new Counters)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Recorder.JobGroupKey)))
        .getOrElse("")
      jobStart.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      counters(e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val (g, s) = Option(jobStart.remove(e.jobId)).getOrElse(("", e.time))
      jobs.add(JobRec(e.jobId, g, s, e.time,
        Option(jobCounters.remove(e.jobId)).getOrElse(new Counters)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).foreach { j =>
        val c = counters(j)
        c.synchronized {
          c.stages += 1
          val dur = for (s <- info.submissionTime; f <- info.completionTime)
            yield f - s
          if (info.numTasks == 1 && dur.exists(_ >= 200)) c.serialStages += 1
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).foreach { j =>
        val c = counters(j)
        val info = e.taskInfo
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResultTime > 0)
              info.finishTime - info.gettingResultTime else 0L))
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
          if (m.inputMetrics.bytesRead > 0) c.inTasks += 1
          c.inRows += m.inputMetrics.recordsRead
          c.inBytes += m.inputMetrics.bytesRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRows += m.outputMetrics.recordsWritten
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private object ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      progress.add(Progress(p.runId.toString, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }
}
