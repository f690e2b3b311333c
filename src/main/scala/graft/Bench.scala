package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline query subset and prints ONE
  * machine-readable JSON line on stdout (also written to a plain file —
  * see SPARK_GRAFT_BENCH_OUT below). This is what the ≤2× bench gate
  * reads; regression judgement between two commits is `tools/ab.sh`'s
  * job (paired, alternating runs of this main in separate JVMs).
  *
  * Methodology: each query runs THREE times and the headline number is
  * the per-query MIN (disclosed as "mode":"best-of-3", with every pass
  * and its steal delta in the side-file JSON). Pass 1 is dominated by
  * per-query codegen/plan-compile (~2-4s on the many-stage dedup plans),
  * not data throughput; pass2≈pass3 is the reproducible throughput, and
  * on a shared host with bursty CPU steal min-of-3 bounds one burst's
  * damage to a single pass. SPARK_GRAFT_BENCH_ONESHOT=1 times one pass.
  *
  * Query set: SparkEntry.benchQueries by default; SPARK_GRAFT_BENCH_FULL=1
  * selects every registered query; SPARK_GRAFT_BENCH_ONLY=q1,q2 selects
  * the named registered queries (an unknown name is refused).
  *
  * A pass that throws records no time. The sweep still finishes, then
  * every failed query is named on stderr and Bench exits 1 without the
  * JSON line, so a fast failure can never read as a speedup.
  */
object Bench {

  /** Cumulative host steal time in jiffies from /proc/stat's aggregate
    * cpu line (field 8: user nice system idle iowait irq softirq STEAL).
    * -1 when unreadable (non-Linux). Snapshotted around every timed pass
    * so a burst-inflated wall time is labeled in the side file.
    */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Untimed warm-ups: JVM/codegen/parquet-reader startup (one cheap
    * registered query), then ImageIO's plugin-registry scan, PNG
    * reader/writer class loading and the getRGB sampling loops, which
    * initialize/JIT once per JVM — local mode shares the JVM with
    * executors, so this keeps one-time cost out of the first timed query
    * and the m_* codec rows.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try SparkEntry.queries("a1_count")(spark, sfDir).count()
    catch { case _: Throwable => }
    try {
      var i = 0
      var sink = 0L
      while (i < 200) {
        val img = new java.awt.image.BufferedImage(32, 24,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        var y = 0
        while (y < back.getHeight) {
          var x = 0
          while (x < back.getWidth) { sink += back.getRGB(x, y); x += 1 }
          y += 1
        }
        i += 1
      }
      if (sink == Long.MinValue) System.err.println("") // keep `sink` live
    } catch { case _: Throwable => }
  }

  /** The queries to time, in run order, from the environment `env`. */
  private[graft] def selectQueries(env: Map[String, String]): Seq[String] = {
    val registered = SparkEntry.queries.keys.toSeq.sorted
    env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY names no query")
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, "SPARK_GRAFT_BENCH_ONLY names " +
          s"unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
        registered.filter(names)
      case None =>
        if (env.get("SPARK_GRAFT_BENCH_FULL").contains("1")) registered
        else SparkEntry.benchQueries
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val selected = selectQueries(sys.env)
    val passes =
      if (sys.env.get("SPARK_GRAFT_BENCH_ONESHOT").contains("1")) 1 else 3
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // per query: each pass's (wall seconds, or None if it threw; steal s)
    val timed = selected.map { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to passes).map { pass =>
        val st0 = stealJiffies()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name pass $pass FAILED: " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val st1 = stealJiffies()
        spark.catalog.clearCache() // per-query cache lifetime (see Verify)
        // steal delta in seconds (USER_HZ=100), summed across all CPUs
        val steal = if (st0 >= 0 && st1 >= 0) (st1 - st0) / 100.0 else -1.0
        (Option.when(ok)(dt), steal)
      }
      System.err.println(f"[bench] ${java.time.Instant.now()} $name%-22s " +
        ts.map { case (t, s) =>
          t.fold("FAILED")(v => f"$v%7.2f") + f" (steal $s%5.1f)"
        }.mkString(" ") + " s")
      name -> ts
    }
    val failed = timed.collect { case (k, ts) if ts.exists(_._1.isEmpty) => k }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed " +
        s"quer${if (failed.size == 1) "y" else "ies"}: ${failed.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val results = timed.map { case (k, ts) => k -> ts.flatMap(_._1).min }
    val total = results.map(_._2).sum
    val mode = if (passes == 1) "one-shot" else "best-of-3"
    val head = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(results.map { case (k, v) => k -> v.toString })},""" +
      s""""mode":"$mode""""
    val allPasses = obj(timed.map { case (k, ts) =>
      k -> ts.flatMap(_._1).mkString("[", ",", "]") })
    val allSteal = obj(timed.map { case (k, ts) =>
      k -> ts.map(_._2).mkString("[", ",", "]") })
    // stdout keeps a COMPACT line: the bench gate reads only a ~2000-char
    // tail of the run's output, so per-pass detail goes to the side file
    println(s"""$head,"sf":"$sfDir"}""")
    // the stdout line drowns in sbt/log4j decoration when run under sbt —
    // also write it to a plain file the bench gate can always read
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    val full = s"""$head,"passes":$allPasses,""" +
      s""""steal_sec_per_pass":$allSteal,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] $out: $e") }
    spark.stop()
  }
}
