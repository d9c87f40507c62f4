package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench")
    // Warm the JVM/codegen path once on the smallest SF so per-query
    // numbers measure the engine, not first-call classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // noop sink forces FULL evaluation of every output column —
    // .count() would let Catalyst prune projection-only queries
    // (sha2/simhash/... would never execute) and undercount work.
    // min over 3 INTERLEAVED passes of the whole suite: the first pass
    // pays JIT/codegen, and pass-level interleaving separates a query's
    // samples by the pass duration — back-to-back samples share any
    // host CPU-steal window (observed: an identical trivial query at
    // 0.5 s and 9.3 s in adjacent runs), interleaved ones usually
    // don't, so the min survives windows shorter than a pass.
    // optional dev-loop filter: SPARK_GRAFT_ONLY=qd22,qs24 times just
    // those queries (the driver leaves it unset -> full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    def runPass(queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Unit =
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            errors(name) = e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
        }
        val t = (System.nanoTime() - t0) / 1e9
        // drop per-query persisted state (e.g. minhash signature
        // tables) so queries are measured independently
        spark.catalog.clearCache()
        samples(name) = t :: samples.getOrElse(name, Nil)
      }
    // SPARK_GRAFT_PASSES overrides the pass count for dev-loop sweeps
    // (scale-exponent fits, A/B interleaves) where many short
    // invocations beat one min-of-3; the driver leaves it unset ->
    // the full min-of-3 + top-10-extras protocol
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    require(passes >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $passes")
    (1 to passes).foreach(_ => runPass(named))
    // the 10 most expensive queries get 2 extra interleaved passes
    // (5 samples total): regression triage needs min/med/max spreads
    // wide enough to separate a real slowdown from the ~6% host-jitter
    // floor, and the expensive queries are where regressions matter —
    // a 3-sample spread on a 3 s query cannot tell the two apart
    // (round-11 verdict #7)
    val top10 = named.filterNot { case (n, _) => errors.contains(n) }
      .sortBy { case (n, _) => -samples(n).min }.take(10)
    if (!sys.env.contains("SPARK_GRAFT_PASSES")) (1 to 2).foreach(_ => runPass(top10))
    // a failed query must not masquerade as a fast success.
    // headline value + per-query mins come from the FIRST 3 samples
    // only (samples are prepended, so chronological-first = takeRight):
    // min is monotonically non-increasing in sample count, so folding
    // the top-10's 2 extra passes into the headline would conflate the
    // r12 protocol change with real speedups in round-over-round
    // comparisons — the extra samples serve only the med/max spread in
    // `stats` (which records n per query)
    val results = named.map { case (name, _) =>
      name -> (if (errors.contains(name)) -1.0 else samples(name).takeRight(3).min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    // full per-query min/median/max (+ sample count n: 5 for the
    // top-10, 3 otherwise): round-over-round comparisons need to tell
    // signal from host-jitter noise (min alone can't — a "regression"
    // whose new min sits inside the old min..max spread is
    // indistinguishable from CPU-steal)
    val statsJson = named.map { case (name, _) =>
      val s = samples(name).sorted
      s"""\"$name\":{"min":${s.head},"med":${s(s.size / 2)},"max":${s.last},"n":${s.size}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","protocol":"min-of-first-3; stats n=5 for top-10","queries":$qs,"errors":$errJson,"stats":$statsJson,"sf":${Json.writeValueAsString(sfDir)}}"""
    println(line)
    // stdout gets tail-truncated by capture harnesses once the suite
    // passed ~60 queries; the full per-query timing set lives here so
    // rounds can be diffed query-by-query
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_timings.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The ~25 KB full line above loses its head to 2,000-char tail
    // captures, so nothing parses (PERF_r13/r14 carried no totals).
    // Emit a compact (<1 KB) final line that survives any tail window:
    // headline total, counts, env, and a pointer to the full per-query
    // stats on disk. Keys mirror the full line where they overlap.
    println(compactLine(total, results.size, errors.size,
      sys.env.get("SPARK_GRAFT_CPUS"), spark.sparkContext.defaultParallelism, sfDir))
    spark.stop()
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The compact final line. Jackson writes it, so any `sfDir` stays a
    * valid JSON string. `cpus` is the SPARK_GRAFT_CPUS value when that is
    * a positive integer, else `fallbackCpus` (the session's parallelism:
    * the variable may be unset, or `*` for all cores). */
  private[graft] def compactLine(total: Double, n: Int, nErrors: Int,
                                 cpus: Option[String], fallbackCpus: Int,
                                 sfDir: String): String =
    Json.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec")
      .put("n", n).put("n_errors", nErrors)
      .put("cpus", cpus.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(fallbackCpus))
      .put("sf", sfDir).put("stats_file", "bench_timings.json")
      .toString
}
