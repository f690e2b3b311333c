package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.etl.Bulk
import graft.schema.{DescribeResponse, Ddl, Mapping}
import graft.streaming.Streams

/** Incremental Salesforce-style sync, one client. The source snapshot
  * (orders with a system modstamp, plus events) is bulk-extracted to CSV,
  * read back under a schema mapped from the objects' describe JSON, and
  * loaded into two maintained tables: the newest record per order
  * (Streams.latestMaintain) and the day x event-type rollup
  * (Streams.rollupMaintain). Delta ticks then repeat the same extract,
  * read-back and AvailableNow maintenance for each batch of changes. */
final class Sync(data: String, work: String) extends Workload {
  private val src = s"$data/sync"
  private val root = s"$work/sync"
  private val Objects = Seq("orders", "events")
  private val describe = Objects.map(o => o ->
    new String(Files.readAllBytes(new File(s"$src/describe_$o.json").toPath),
      "UTF-8")).toMap
  private val available =
    new File(src).list().count(_.matches("tick_\\d+_orders\\.parquet"))
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(2,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
  private var jobs: Bulk.Jobs = _
  private var ticks = 0
  private val seenGens = mutable.Set.empty[String]
  private var tickCsv, tickWritten = 0L
  private var fullLoadS = 0.0

  private def bulk(spark: SparkSession): Bulk.Jobs = {
    if (jobs == null) jobs = new Bulk.Jobs(spark)
    jobs
  }

  /** The CSV read-back of a landing directory as a stream, with the frozen
    * schema and the physical format Bulk.readExtract uses. */
  private def landed(spark: SparkSession, schema: StructType, dir: String)
      : DataFrame =
    spark.readStream.schema(schema)
      .option("header", "true").option("delimiter", ",")
      .option("lineSep", "\n")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("mode", "FAILFAST")
      .csv(dir)

  private def source(t: Int, obj: String): String =
    if (t == 0) s"$src/snapshot_$obj.parquet" else f"$src/tick_$t%03d_$obj.parquet"

  /** One extract-and-load cycle into the state under `base`; t = 0 is the
    * full load of the snapshot. Returns the CSV bytes extracted. */
  private def cycle(spark: SparkSession, rec: Recorder, base: String,
      t: Int): Long = {
    val schemas = rec.span("schema", "schema.map", t)(Objects.map(o =>
      o -> Mapping.describeToStructType(DescribeResponse.parse(describe(o))))
      .toMap)
    rec.span("schema", "schema.ddl", t) {
      val ddl = Objects.map(o => Ddl.generate(o, schemas(o))(Ddl.Pg))
      Files.write(new File(s"$base/ddl.sql").toPath,
        ddl.mkString("\n").getBytes("UTF-8"))
    }
    rec.span("bulk", "bulk.jobs", t) {
      val created = Objects.map { o =>
        val ms = System.currentTimeMillis()
        val from = spark.read.schema(schemas(o)).parquet(source(t, o))
        val j = bulk(spark).createQueryJob(from, schemas(o).fieldNames.toSeq,
          s"$base/staging/$o/t=$t")
        rec.bind(j.id)
        (o, j.id, ms)
      }
      created.foreach { case (o, id, ms) =>
        val done = bulk(spark).awaitJob(id)
        rec.bulkAwaited(id, ms, System.currentTimeMillis())
        require(done.state == Bulk.JobComplete,
          s"bulk extract of $o ended ${done.state}: ${done.error.getOrElse("")}")
      }
    }
    val csv = rec.span("sync", "land", t)(Objects.map { o =>
      val staged = new File(s"$base/staging/$o/t=$t")
      val parts = staged.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      val bytes = parts.map(_.length).sum
      parts.foreach(p => Files.move(p.toPath,
        new File(s"$base/landing/$o/t=$t-${p.getName}").toPath,
        StandardCopyOption.ATOMIC_MOVE))
      Main.rm(staged)
      bytes
    }.sum)
    rec.note("bulk.csv_bytes", csv.toDouble)
    rec.span("streaming", "streaming.maintain", t) {
      val qs = Seq(
        Streams.latestMaintain(
          landed(spark, schemas("orders"), s"$base/landing/orders"),
          s"$base/state/orders", "o_orderkey", "systemmodstamp",
          checkpoint = Some(s"$base/ckpt/orders")),
        Streams.rollupMaintain(
          landed(spark, schemas("events"), s"$base/landing/events"),
          s"$base/state/rollup", checkpoint = Some(s"$base/ckpt/rollup")))
      qs.foreach(q => rec.bind(q.runId.toString))
      qs.foreach(_.awaitTermination())
    }
    csv
  }

  private def fresh(base: String): Unit = {
    Main.rm(new File(base))
    Objects.foreach(o => new File(s"$base/landing/$o").mkdirs())
  }

  /** Bytes of the state generations published since the last call. */
  private def newStateBytes(base: String): Long =
    Seq("orders", "rollup").map { s =>
      Option(new File(s"$base/state/$s").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("gen=") &&
          seenGens.add(f.getPath))
        .map(Main.du).sum
    }.sum

  /** Two delta-sized cycles into a throw-away state: every code path of a
    * tick, without the cost of a snapshot load. */
  def warm(spark: SparkSession): Unit = {
    val base = s"$work/sync_warm"
    fresh(base)
    val off = new Recorder(spark, on = false)
    Seq(1, 2).foreach(t => cycle(spark, off, base, t))
    Main.rm(new File(base))
  }

  /** The full load is not part of the measured window: ticks run for the
    * whole window after it, and at least MinTicks of them. */
  private val MinTicks = 3

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    def timed(t: Int)(body: => Unit): Boolean = {
      val s = System.nanoTime()
      val err =
        try { rec.span("sync", "tick", t)(body); None }
        catch { case e: Throwable => Some(s"tick $t: $e") }
      val op = Op(t, s, System.nanoTime(), err)
      ops += op
      if (t == 0) fullLoadS = op.ms / 1e3
      err.isEmpty
    }
    var ok = true
    var end = deadline
    if (ticks == 0) {
      fresh(root)
      ok = timed(0)(cycle(spark, rec, root, 0))
      newStateBytes(root)
      end += System.nanoTime() - ops.result().head.startNs
    }
    var n = 0
    while (ok && ticks < available &&
        (System.nanoTime() < end || n < MinTicks)) {
      ticks += 1
      n += 1
      var csv = 0L
      ok = timed(ticks) { csv = cycle(spark, rec, root, ticks) }
      tickCsv += csv
      tickWritten += csv + newStateBytes(root)
    }
    ops.result()
  }

  /** Final maintained state, and the landed CSV read back with
    * Bulk.readExtract, as parquet for the oracle. */
  def check(spark: SparkSession): Unit = {
    val out = s"$work/check"
    Streams.readGenMaintained(spark, s"$root/state/orders")
      .write.mode("overwrite").parquet(s"$out/orders_state")
    Streams.readGenMaintained(spark, s"$root/state/rollup")
      .write.mode("overwrite").parquet(s"$out/rollup_state")
    Objects.foreach(o => Bulk.readExtract(spark, s"$root/landing/$o",
      Mapping.describeToStructType(describe(o)))
      .write.mode("overwrite").parquet(s"$out/${o}_extracted"))
  }

  override def facts: Map[String, Double] = Map(
    "ticks" -> ticks.toDouble, "full_load_s" -> fullLoadS,
    "tick_csv_bytes" -> tickCsv.toDouble,
    "tick_written_bytes" -> tickWritten.toDouble)
}
