package perfbench

import graft.SparkEntry
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.collection.mutable.LinkedHashMap

/** The heavy LLM data-pipeline operators over a generated corpus
  * (gen_tables.py), one declared query per operator family, in a fixed
  * order: exact dedup, minhash LSH near-dups, near-dup clusters
  * (connected components), benchmark decontamination, and IVF-PQ
  * search. Each query is one op: build (iterative operators run their
  * eager loops and checkpoints here), then the noop sink, then, untimed,
  * its output is written for the checks, then `clearCache()`. */
final class CorpusDedup(h: Harness) extends Workload {
  val names: Seq[String] = Seq(
    "qd01_exact_dedup", "qd03_minhash_neardup", "qd06_dedup_clusters",
    "qc11_contamination_report", "qs24_ivfpq_serve")

  private def query(name: String): DataFrame = SparkEntry.queries(name)(h.spark, h.data)

  def setup(times: LinkedHashMap[String, Double]): Unit = {
    Files.createDirectories(Paths.get(h.work))
    Files.writeString(Paths.get(h.work, "oracle_sql.json"),
      Json.value(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    val s = System.nanoTime()
    h.tracer.span("graft.schema_probe")(Seq("documents", "embeddings").foreach(h.tables.table))
    times("graft.schema_probe_s") = (System.nanoTime() - s) / 1e9
    // one untimed pass as warm-up (class loading, codegen, JIT)
    val w = System.nanoTime()
    h.tracer.span("warmup")(names.foreach { n =>
      h.noop(query(n))
      h.spark.catalog.clearCache()
    })
    times("warmup_s") = (System.nanoTime() - w) / 1e9
  }

  /** whole passes until the measured window is used up, so every run
    * times every query the same number of times */
  def run(): Unit = {
    var iter = 0
    while (!h.deadlinePassed) {
      iter += 1
      h.tracer.newTrace()
      h.tracer.span("iteration")(names.foreach(n => h.queryOp(n, iter)(query(n))))
    }
  }

  /** Kernel probe (traced run only, after the loop): the public column
    * functions over the corpus into the noop sink; median of 3 rates. */
  override def finish(): Map[String, Any] = {
    val checks = Map("check_errors" -> h.checkErrors)
    if (!h.tracer.enabled) return checks
    val docs = h.tables.documents
    val vecs = h.tables.embeddings
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    def rate(df: DataFrame, rows: Double, c: Column): Double = {
      val rs = (1 to 3).map { _ =>
        val s = System.nanoTime()
        h.tracer.span("functions.probe")(h.noop(df.select(c.as("x"))))
        rows / ((System.nanoTime() - s) / 1e9)
      }.sorted
      rs(1)
    }
    val text = col("text")
    checks ++ Map("probe" -> LinkedHashMap(
      "functions.minhash_rows_per_s" -> rate(docs, nDocs, TextFunctions.minhashSignature(text, 16)),
      "functions.shingle_rows_per_s" -> rate(docs, nDocs, TextFunctions.shingleHashes(text, 3)),
      "functions.simhash_rows_per_s" -> rate(docs, nDocs, TextFunctions.simhash16(text)),
      "functions.dot_rows_per_s" ->
        rate(vecs, nVecs, VectorFunctions.dot(col("embedding"), col("embedding")))))
  }
}
