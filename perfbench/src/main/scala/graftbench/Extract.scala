package graftbench

import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.soql.Soql

/** Interactive extract: two clients send a stream of SOQL requests over
  * the object graph and collect every response to the driver, as a query
  * API returns rows to its caller. Each request is parsed and translated
  * by the soql layer, planned by Catalyst, then collected. */
final class Extract(data: String, work: String) extends Workload {
  import Extract.Req

  private def load(file: String): IndexedSeq[Req] = {
    val src = Source.fromFile(s"$data/$file", "UTF-8")
    try src.getLines().map { l =>
      val Array(id, shape, today, soql) = l.split("\t", 4)
      Req(id.toInt, shape,
        if (today.isEmpty) None else Some(java.time.LocalDate.parse(today)),
        soql)
    }.toIndexedSeq
    finally src.close()
  }

  private val tables = s"$data/tables"
  private val reqs = load("requests.tsv")
  private val warmReqs = load("warm_requests.tsv")
  private val next = new AtomicInteger(0)
  private val rows = new ConcurrentHashMap[Int, Array[Row]]()
  private val Clients = 2
  /** Shapes per round of the stream; a run issues at least MinRounds
    * rounds, so its median stands on every shape at least twice. */
  private val Round = reqs.map(_.shape).distinct.size
  private val MinRounds = 2

  private def request(spark: SparkSession, rec: Recorder, r: Req)
      : Array[Row] =
    rec.span("request", "request", r.id) {
      val q = rec.span("soql", "soql.parse", r.id)(Soql.parse(r.soql))
      val df = rec.span("soql", "soql.translate", r.id)(
        Soql.toDataFrame(q, spark, tables, today = r.today))
      rec.span("plan", "plan.catalyst", r.id)(df.queryExecution.executedPlan)
      rec.span("exec", "collect", r.id)(df.collect())
    }

  /** One request of every shape, issued by the same two clients. */
  def warm(spark: SparkSession): Unit = {
    val off = new Recorder(spark, on = false)
    val clients = warmReqs.grouped((warmReqs.size + Clients - 1) / Clients)
      .map(rs => new Thread(() => rs.foreach(request(spark, off, _)))).toSeq
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Seq[Op] = {
    val done = new ConcurrentLinkedQueue[Op]()
    val minEnd = next.get + MinRounds * Round
    val clients = (0 until Clients).map(_ => new Thread(() => {
      var i = next.getAndIncrement()
      while ((System.nanoTime() < deadline || i < minEnd) && i < reqs.size) {
        val r = reqs(i)
        val s = System.nanoTime()
        try {
          val out = request(spark, rec, r)
          done.add(Op(r.id, s, System.nanoTime()))
          rows.put(r.id, out)
        } catch {
          case e: Throwable =>
            done.add(Op(r.id, s, System.nanoTime(),
              Some(s"request ${r.id} (${r.shape}): $e")))
        }
        i = next.getAndIncrement()
      }
    }))
    clients.foreach(_.start())
    clients.foreach(_.join())
    done.asScala.toSeq.sortBy(_.startNs)
  }

  /** Row-multiset hash of every collected response, for the oracle. */
  def check(spark: SparkSession): Unit = {
    val w = new java.io.PrintWriter(s"$work/extract_results.tsv", "UTF-8")
    try rows.asScala.toSeq.sortBy(_._1).foreach { case (id, rs) =>
      w.println(s"$id\t${rs.length}\t${java.lang.Long.toUnsignedString(
        Extract.multisetHash(rs))}")
    } finally w.close()
  }
}

object Extract {
  final case class Req(id: Int, shape: String,
      today: Option[java.time.LocalDate], soql: String)

  /** Sum over rows (mod 2^64) of the first 8 bytes of MD5(row text); the
    * same function is evaluated on the DuckDB side. Doubles render on the
    * cent grid every generated value lies on, timestamps as epoch micros. */
  def multisetHash(rs: Array[Row]): Long = {
    val md = MessageDigest.getInstance("MD5")
    rs.foldLeft(0L) { (acc, r) =>
      val text = r.toSeq.map(cell).mkString("\u0001")
      val d = md.digest(text.getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
  }

  private def cell(v: Any): String = v match {
    case null => "N"
    case d: java.lang.Double => "D" + math.round(d.doubleValue * 100.0)
    case f: java.lang.Float => "D" + math.round(f.doubleValue * 100.0)
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case n: java.lang.Number => "I" + n.longValue
    case b: java.lang.Boolean => if (b) "I1" else "I0"
    case s => "S" + s.toString
  }
}
