package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One timed operation: a request, a pipeline iteration or a sync tick. */
final case class Op(id: Long, startNs: Long, endNs: Long,
    error: Option[String] = None) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A benchmark workload, driven by [[Main]]. */
trait Workload {
  /** Untimed pass that brings the JVM and the session to steady state.
    * Its cost is charged to set-up. */
  def warm(spark: SparkSession): Unit
  /** Timed operations until System.nanoTime passes `deadline`. */
  def run(spark: SparkSession, rec: Recorder, deadline: Long): Seq[Op]
  /** Untimed, after the timed loop: write what the oracle checks. */
  def check(spark: SparkSession): Unit
  /** Workload-specific measurements for the result file. */
  def facts: Map[String, Double] = Map.empty
}

/** Benchmark entry point. Usage:
  * {{{
  * graftbench.Main --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --out FILE
  * }}}
  * Starts the session, runs the workload's warm pass (together, the
  * set-up), then measures for `seconds`. With `--trace 1` the first half
  * of the window runs untraced and the second half traced, so one run
  * reports both the per-layer numbers and the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val data = a("data")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    // inputs are generated while the JVM starts; the wait for them is not
    // set-up time
    val ready = new File(s"$data/READY")
    val waitStart = System.currentTimeMillis()
    while (!ready.exists()) Thread.sleep(20)
    val waitedMs = System.currentTimeMillis() - waitStart
    val wl: Workload = a("workload") match {
      case "extract" => new Extract(data, work)
      case "curate" => new Curate(data, work)
      case "sync" => new Sync(data, work)
      case w => sys.error(s"unknown workload $w")
    }
    wl.warm(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs - waitedMs) / 1000.0

    val secNs = (seconds * 1e9).toLong
    val (plain, traced, layers, table) =
      if (!trace) {
        val rec = new Recorder(spark, on = false)
        (wl.run(spark, rec, System.nanoTime() + secNs), Nil,
          Map.empty[String, Double], "")
      } else {
        // the same window untraced, then traced: the difference between
        // the two halves is the tracing overhead
        val rec = new Recorder(spark, on = true)
        val untraced = wl.run(spark, new Recorder(spark, on = false),
          System.nanoTime() + secNs / 2)
        val traced = wl.run(spark, rec, System.nanoTime() + secNs / 2)
        rec.drain()
        rec.writeSpans(s"$work/spans.jsonl")
        val rep = new Report(rec, traced)
        (untraced, traced, rep.metrics(untraced), rep.table)
      }
    wl.check(spark)
    spark.stop()

    val ops = plain ++ traced
    val json = Json.obj(
      "setup_s" -> Json.num(setupS),
      "ops" -> Json.arr(plain.map(opJson)),
      "traced_ops" -> Json.arr(traced.map(opJson)),
      "attempted" -> Json.num(ops.size),
      "failed" -> Json.num(ops.count(_.error.isDefined)),
      "errors" -> Json.arr(ops.flatMap(_.error).distinct.take(5)
        .map(Json.str)),
      "facts" -> Json.obj(wl.facts.toSeq.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "layer_table" -> Json.str(table))
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.println(json) finally w.close()
  }

  private def opJson(o: Op): String = Json.obj(
    "id" -> Json.num(o.id), "ms" -> Json.num(o.ms),
    "end_s" -> Json.num(o.endNs / 1e9), "start_s" -> Json.num(o.startNs / 1e9),
    "ok" -> (if (o.error.isEmpty) "true" else "false"))

  /** local[4] session whose scratch space stays inside the work dir. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/rdd-checkpoints")
    s
  }

  /** Delete a directory tree. */
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Total size in bytes of the files under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    else f.length

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
