package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.etl.Tables

/** LLM curation pipeline, one client, repeated end to end. An iteration
  * runs the t_curate composition (quality, repetition, contamination,
  * MinHash clusters) over the corpus, keeps the passing documents, then
  * runs BPE encode and chunk-pack over the kept corpus, writing parquet at
  * every step. */
final class Curate(data: String, work: String) extends Workload {
  private val corpus = s"$data/corpus"
  private val out = s"$work/curate"
  private var iteration = 0

  /** Driver-side layers a registry function calls into, innermost first. */
  private val Layers = Seq("graft.ops.Dedup" -> "dedup",
    "graft.ops.Text" -> "text")

  private def step(spark: SparkSession, rec: Recorder, it: Long,
      name: String, dir: String, target: String): Unit = {
    val df = rec.sampledSpan("text", s"$name.construct", it, Layers)(
      SparkEntry.queries(name)(spark, dir))
    rec.span("text", s"$name.write", it)(df.write.parquet(target))
  }

  private def iterate(spark: SparkSession, rec: Recorder, corpus: String,
      dir: String, it: Long): Unit = {
    step(spark, rec, it, "t_curate", corpus, s"$dir/t_curate")
    rec.span("pipeline", "keep", it) {
      val keep = spark.read.parquet(s"$dir/t_curate")
        .filter(col("keep") === 1).select("doc_id")
      val d = Tables.load(spark, corpus, "documents")
      d.join(keep, "doc_id").select(d.columns.map(col): _*)
        .write.parquet(s"$dir/kept/documents.parquet")
    }
    step(spark, rec, it, "t_bpe_encode", s"$dir/kept", s"$dir/t_bpe_encode")
    step(spark, rec, it, "t_chunkpack", s"$dir/kept", s"$dir/t_chunkpack")
    spark.catalog.clearCache()
  }

  /** One iteration over the small warm-up corpus: every code path of the
    * pipeline, at a fraction of an iteration's cost. */
  def warm(spark: SparkSession): Unit = {
    val dir = new File(s"$work/curate_warm")
    Main.rm(dir)
    iterate(spark, new Recorder(spark, on = false), s"$data/corpus_warm",
      dir.getPath, 0)
    Main.rm(dir)
  }

  def run(spark: SparkSession, rec: Recorder, deadline: Long): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    while (System.nanoTime() < deadline) {
      iteration += 1
      val s = System.nanoTime()
      val err =
        try {
          rec.span("pipeline", "iteration", iteration)(
            iterate(spark, rec, corpus, s"$out/it=$iteration", iteration))
          None
        } catch { case e: Throwable => Some(s"iteration $iteration: $e") }
      ops += Op(iteration, s, System.nanoTime(), err)
    }
    ops.result()
  }

  /** Every iteration's outputs stay on disk under curate/it=N, where the
    * oracle checks them; this writes the registry's DuckDB SQL for the
    * three checked steps next to them. */
  def check(spark: SparkSession): Unit = {
    val sql = Seq("t_curate", "t_bpe_encode", "t_chunkpack")
      .map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.write(new File(s"$work/curate_oracles.json").toPath,
      Json.obj(sql: _*).getBytes("UTF-8"))
  }
}
