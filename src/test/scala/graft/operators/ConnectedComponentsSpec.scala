package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  test("components: chain + pair + self-loop resolve to min-id labels") {
    // chain 1-2-3-4 (diameter 3), pair 10-11, self-loop 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("a_id", "b_id")
    val out = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("empty, self-loop-only and single-edge graphs return promptly with exact labels") {
    // the convergence count rides each round's checkpoint job as an
    // observed metric; over an empty relation Spark may plan that node
    // away, and the loop must then answer without a metric row
    def bounded[T](body: => T): T = {
      val f = scala.concurrent.Future(body)(scala.concurrent.ExecutionContext.global)
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s"))
    }
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val prunedEmpty = Seq((1L, 2L)).toDF("a_id", "b_id").filter(lit(false))
    val selfLoops = Seq((20L, 20L), (21L, 21L)).toDF("a_id", "b_id")
    val single = Seq((7L, 3L)).toDF("a_id", "b_id")
    val cases = Seq(
      (empty, Map.empty[Long, Long], 1),
      (prunedEmpty, Map.empty[Long, Long], 1),
      (selfLoops, Map(20L -> 20L, 21L -> 21L), 1),
      (single, Map(3L -> 3L, 7L -> 3L), 2))
    cases.foreach { case (edges, want, wantRounds) =>
      val (got, rounds) = bounded {
        val (l, r) = ConnectedComponents.runCounted(edges)
        (labels(l), r)
      }
      assert(got == want)
      assert(rounds == wantRounds, s"$want took $rounds rounds")
      val alt = bounded(labels(ConnectedComponents.runAlternating(edges)))
      assert(alt == want)
    }
  }

  test("run issues at most 17 Spark jobs on the chain + pair + self-loop fixture") {
    // 27 before the edge list was built from one scan, the seed round
    // folded into one aggregation of it, and the convergence test moved
    // onto each round's own checkpoint job
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("a_id", "b_id")
    val sc = spark.sparkContext
    val group = "cc-job-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ConnectedComponents.run job count")
      try ConnectedComponents.run(edges) finally sc.clearJobGroup()
      // drain the listener bus before reading the count
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0 && jobs.get <= 17, s"run issued ${jobs.get} jobs")
  }

  test("long chain converges within its diameter and survives a shuffle") {
    // path 0-1-...-9: worst case for min propagation (diameter 9)
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .repartition(7)
    val out = ConnectedComponents.run(edges, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 10 && out.values.forall(_ == 0L))
  }

  test("maxIter caps the rounds: a too-small budget leaves far labels unconverged") {
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val capped = ConnectedComponents.run(edges, maxIter = 2)
      .as[(Long, Long)].collect().toMap
    // near the head labels have converged; the far end cannot have
    // (information travels <= 2 hops per round... with symmetric
    // propagation each round halves nothing — label 0 reaches at most
    // vertex 2*maxIter)
    assert(capped(1L) == 0L)
    assert(capped(9L) != 0L)
  }

  test("dedupDecisions: transitive cluster keeper, singletons keep themselves") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    // pairs 0-1 and 1-2 chain into one cluster {0,1,2}; 3 and 4 unpaired
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("a_id", "b_id")
    val out = ConnectedComponents.dedupDecisions(docs, pairs)
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, c, f) => d -> ((c, f)) }.toMap
    assert(out(0L) == (0L, false))
    assert(out(1L) == (0L, true))
    assert(out(2L) == (0L, true))   // transitive: never directly paired with 0
    assert(out(3L) == (3L, false))
    assert(out(4L) == (4L, false))
  }

  test("high-diameter path graph: rounds stay within the log2(diameter) bound") {
    // a 10k-vertex path is the adversarial diameter case for label
    // propagation: plain min-propagation needs ~diameter rounds; the
    // pointer-doubled loop must finish in ceil(log2(d)) + c
    val n = 10000
    val path = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val (labels, rounds) = ConnectedComponents.runCounted(path, maxIter = 20)
    val comps = labels.select("comp").distinct().as[Long].collect()
    assert(comps.toSeq == Seq(0L), "one component labeled by the min id")
    assert(labels.count() == n)
    val bound = math.ceil(math.log(n - 1.0) / math.log(2.0)).toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound is $bound")
  }

  test("alternating large-star/small-star matches label propagation everywhere") {
    // path (adversarial diameter), clique + bridge (near-dup shape),
    // self-loops + duplicate + reversed edges (input hygiene)
    val path = (0 until 2000).map(i => (i.toLong, (i + 1).toLong))
    val clique = for (a <- 5000 until 5010; b <- 5000 until 5010 if a < b)
      yield (a.toLong, b.toLong)
    val messy = Seq((9000L, 9000L), (9001L, 9002L), (9002L, 9001L), (9001L, 9002L))
    val edges = (path ++ clique ++ messy).toDF("a_id", "b_id")
    val viaProp = ConnectedComponents.run(edges, maxIter = 25)
      .as[(Long, Long)].collect().toMap
    val (labels, rounds) = ConnectedComponents.runAlternatingCounted(edges, maxIter = 30)
    val viaStars = labels.as[(Long, Long)].collect().toMap
    assert(viaStars == viaProp)
    assert(viaStars(1999L) == 0L && viaStars(5009L) == 5000L && viaStars(9000L) == 9000L)
    assert(rounds <= math.ceil(math.log(2000.0) / math.log(2.0)).toInt + 2,
      s"alternating took $rounds rounds")
  }

  test("alternating under a maxIter cutoff still yields exactly one label per vertex") {
    val path = (0 until 500).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val (labels, rounds) = ConnectedComponents.runAlternatingCounted(path, maxIter = 1)
    assert(rounds == 1)
    val rows = labels.as[(Long, Long)].collect()
    assert(rows.length == 501, "one row per vertex even when unconverged")
    assert(rows.map(_._1).distinct.length == 501)
    rows.foreach { case (id, comp) => assert(comp <= id) } // labels only improve downward
  }

  test("fixture: minhash pairs -> clusters matches brute-force closure") {
    val t = graft.Tables(spark, sf0001)
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select("a_id", "b_id")
    val got = ConnectedComponents.run(pairs).as[(Long, Long)].collect().toMap
    // brute-force union-find on the collected pair list (test-only)
    val es = pairs.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got == want)
  }

  test("mergeBatch: incremental fold over batches equals the full recompute") {
    def lbl(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b1 = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    // merges the two prior clusters, adds a fresh one, extends {3,4}
    val b2 = Seq((2L, 3L), (5L, 6L), (4L, 9L)).toDF("a_id", "b_id")
    val inc = lbl(ConnectedComponents.mergeBatch(ConnectedComponents.run(b1), b2))
    val full = lbl(ConnectedComponents.run(b1.unionByName(b2)))
    assert(inc == full, s"incremental $inc != full $full")
    // batch-wise chain growth: 10 sequential folds == one closure
    val batches = (0L until 10L).map(i =>
      Seq((i * 3, i * 3 + 1), (i * 3 + 1, i * 3 + 2), (i * 3 + 2, i * 3 + 3))
        .toDF("a_id", "b_id"))
    val folded = lbl(batches.tail.foldLeft(ConnectedComponents.run(batches.head)) {
      (l, b) => ConnectedComponents.mergeBatch(l, b).localCheckpoint() })
    val whole = lbl(ConnectedComponents.run(
      batches.reduce(_ unionByName _)))
    assert(folded == whole)
    assert(folded.values.toSet == Set(0L), "one chain, one component")
  }

  test("dedupDecisionsBy keeps the best-quality member, id as tie-break") {
    // cluster {1,2,3}: 2 has top quality; cluster {5,6}: tie -> min id 5;
    // singleton 9 keeps itself
    val docs = Seq((1L, 10L), (2L, 99L), (3L, 50L), (5L, 7L), (6L, 7L), (9L, 1L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val got = ConnectedComponents.dedupDecisionsBy(docs, pairs, Seq("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((2L, true)) && got(2L) === ((2L, false)) && got(3L) === ((2L, true)))
    assert(got(5L) === ((5L, false)) && got(6L) === ((5L, true)))
    assert(got(9L) === ((9L, false)))
    intercept[IllegalArgumentException] {
      ConnectedComponents.dedupDecisionsBy(docs, pairs, Seq.empty)
    }
  }
}
