package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Distributed connected components over an undirected edge list —
  * the step that turns a near-dup PAIR list (qd03/qd04/qd05 output)
  * into dedup DECISIONS: transitive closure groups pairs into
  * clusters, each cluster keeps one canonical document.
  *
  * Algorithm: iterated min-label propagation. Every vertex starts
  * labeled with its own id; each round it takes the min of its own
  * label and its neighbors' labels; fixpoint = every vertex holds the
  * min id of its component. Round 1 starts from the identity labels,
  * so it reduces to least(id, min neighbor id) and runs as one
  * per-vertex aggregation of the edge list. Every later round is one
  * shuffle join (edges ⋈ labels on the edge key) plus one per-vertex
  * min aggregate — no driver-side graph state, vertices never collect.
  * Rounds are counted from that seed round; unless `maxIter` stops the
  * loop first, the last counted round is the one in which no label
  * moved.
  *
  * Scale: rounds = O(log diameter) — each round unions in the
  * pointer-doubled labels (comp(comp(v))), halving every vertex's
  * distance to its component min (measured 8x on a 50k-vertex
  * replication-chained pair graph vs plain propagation). Near-dup
  * graphs are dense star/clique-like clusters anyway (diameter ≤ ~3),
  * so the loop typically runs 3-4 rounds regardless of corpus size;
  * the per-round cost is the edge shuffle, which AQE handles like any
  * other key join. The driver loop is over ROUNDS (bounded by
  * maxIter), not rows; the only driver actions are one materialize of
  * the symmetric edge list and one materialize per round. Each round's
  * materialize also counts the labels that moved (a `Dataset.observe`
  * metric on the same job); that count is the convergence test.
  */
object ConnectedComponents {

  /** Checkpoint + STATISTICS truncation. `localCheckpoint` truncates
    * the logical plan but Spark's LogicalRDD inherits the child plan's
    * ESTIMATED `sizeInBytes` — and join estimation multiplies them, so
    * iterative composition compounds the estimate superexponentially:
    * folding [[mergeBatch]] over 10 tiny batches was measured growing
    * the BigInt estimate 16× in DIGITS per fold (543 → 8,680 →
    * 138,871 → 2,221,938 digits by fold 4) until plan costing spent
    * minutes in BigInteger multiplication. When the inherited estimate
    * exceeds any physically possible size (2^128 bytes), rebuild the
    * frame from the checkpointed RDD — fresh default stats, plan
    * costing stays O(1) forever. The rebuild pays a Row conversion, so
    * it's applied only in the pathological case: single [[run]] calls
    * on real data never trigger it. */
  private[operators] def checkpointTruncated(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    if (c.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength > 128)
      c.sparkSession.createDataFrame(c.rdd, c.schema)
    else c
  }

  /** (id, component) for every vertex in `edges`; component = min
    * vertex id of the connected component. Deterministic; pointer
    * doubling converges in ⌈log₂ diameter⌉ + O(1) rounds (hard-capped
    * at `maxIter`, then returns the best labels so far — callers
    * wanting a guarantee size maxIter above log₂ of the worst
    * plausible diameter; ConnectedComponentsSpec pins the bound on a
    * 10k-vertex path).
    *
    * When would this shape stop being enough? Label propagation (even
    * doubled) keeps the EDGE list as the per-round join input, so a
    * giant component doesn't concentrate on one task — but the
    * per-round label table keeps one row per vertex forever. The
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14)
    * additionally REWRITES edges toward the minimum each round,
    * shrinking the active edge set and skew together; it becomes worth
    * its extra per-round shuffles when components span a large
    * fraction of a 100 TB corpus (web-graph-like, diameter in the
    * hundreds) rather than the diameter-≤~3 clique clusters near-dup
    * pair lists produce. */
  def run(edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
          maxIter: Int = 20): DataFrame =
    runCounted(edges, aCol, bCol, maxIter)._1

  /** [[run]] plus the number of label-propagation rounds executed —
    * the spec hook that pins O(log diameter) convergence. */
  private[graft] def runCounted(edges: DataFrame, aCol: String = "a_id",
                                bCol: String = "b_id",
                                maxIter: Int = 20): (DataFrame, Int) = {
    // symmetric closure: propagate minima in both directions per round.
    // Both orientations come from ONE reference to `edges` (an explode of
    // the two (src, dst) structs), so the upstream funnel — typically a
    // post-shuffle verification — is evaluated once, not once per union
    // branch. Both ids are cast to the type `union` would widen them to.
    val vt = edges.select(col(aCol)).union(edges.select(col(bCol))).schema.head.dataType
    val (a, b) = (col(aCol).cast(vt), col(bCol).cast(vt))
    val sym = edges
      .select(explode(array(struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // localCheckpoint, not persist: persist caches DATA but the logical
    // plan still compounds across rounds (each next references the whole
    // prior lineage), and Catalyst re-analyzes the accumulated plan every
    // round — O(2^rounds) planning. Checkpointing truncates the plan to
    // the materialized result, keeping every round's planning O(1).
    // (On a cluster, swap for reliable checkpoint()+checkpoint dir if
    // executor loss during the loop must be survivable.)
    // r14 optimization (labels bit-identical): the edge list is
    // PRE-PARTITIONED on the join key before its one-off checkpoint —
    // localCheckpoint preserves outputPartitioning, so every round's
    // join re-shuffles only the (smaller) label vector, never the edge
    // list (guide §2.4: two ops keyed the same way share one exchange).
    // At 100 TB the edge list is the heavy side; shuffling it once
    // instead of once per round is the scale win, and at toy scale it
    // removes one exchange per round.
    val symC = checkpointTruncated(sym.repartition(col("dst")))
    if (maxIter < 1)
      return (symC.select(col("src").as("id")).distinct().withColumn("comp", col("id")), 0)
    // round 1 is the seed: against identity labels a round reduces to
    // least(id, min neighbor id) per vertex — one aggregation over the
    // edge checkpoint, no identity-label table to materialize first.
    // `old` is the label the round started from (the id itself).
    val (seed, seedMoved) = checkpointAny(
      symC.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("comp"))
        .select(col("src").as("id"), col("comp"), col("src").as("old")),
      col("comp") =!= col("old"))
    var labels = seed.select(col("id"), col("comp"))
    var iter = 1
    var converged = !seedMoved
    while (iter < maxIter && !converged) {
      val viaNeighbors = symC
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      // pointer doubling: also offer every vertex its label's label
      // (comp(comp(v))) — the distance to the component min then halves
      // per round, so convergence is O(log diameter) instead of
      // O(diameter); without it, replication-chained near-dup clusters
      // (long paths) were measured taking 3-4x the rounds
      val compressed = labels.select(col("id"), col("comp").as("mid"))
        .join(labels.select(col("id").as("mid"), col("comp")), "mid")
        .select(col("id"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      // the previous label rides through the min-aggregation (every
      // vertex has exactly one current row, min ignores nulls), and the
      // convergence test counts rows whose label moved inside the same
      // checkpoint job
      val (next, moved) = checkpointAny(viaNeighbors
        .union(labels.select(col("id"), col("comp"), col("comp").as("old")))
        .union(compressed)
        .groupBy("id").agg(min("comp").as("comp"), min("old").as("old")),
        col("comp") =!= col("old"))
      converged = !moved
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    (labels, iter)
  }

  /** Name of the per-round `observe` metric of [[checkpointAny]]. */
  private val RoundMetric = "graft_cc_round"

  /** [[checkpointTruncated]] that also answers "does any row satisfy
    * `pred`?" from the checkpoint's OWN job: a `Dataset.observe` count
    * rides the materialization, so a loop's convergence test costs no
    * extra action. The metric is read from the executed plan
    * (`QueryExecution.observedMetrics`), never awaited, so it cannot
    * block. When no metric row arrives — Spark may plan the observed
    * node away, e.g. over an empty relation — one probe over the
    * checkpoint answers instead. */
  private def checkpointAny(df: DataFrame, pred: Column): (DataFrame, Boolean) = {
    val observed = df.observe(RoundMetric, count(when(pred, true)).as("n"))
    val c = checkpointTruncated(observed)
    val hit = observed.queryExecution.observedMetrics.get(RoundMetric) match {
      case Some(row) => row.getLong(0) > 0
      case None => !c.filter(pred).isEmpty
    }
    (c, hit)
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    * — the GIANT-component algorithm [[run]]'s doc points at. Label
    * propagation carries a stable per-vertex label table through every
    * round; this instead REWRITES the edge list itself toward each
    * neighborhood's minimum, so components collapse into depth-1 stars
    * and the active edge set shrinks as it converges:
    *
    *  - large-star: every vertex points its STRICTLY LARGER neighbors
    *    at the minimum of its neighborhood (including itself),
    *  - small-star: every vertex points its not-larger neighbors and
    *    itself at that minimum.
    *
    * Both steps are one groupBy(min) + one join-back per round — same
    * shuffle count as a propagation round — but the invariant that
    * makes it the web-graph choice is the shrinking, skew-spreading
    * edge set: a vertex with a million neighbors stops being a single
    * key after one large-star round. For near-dup clique clusters
    * (diameter ≤ ~3) [[run]] converges in fewer rounds with less
    * per-round work, which is why it stays the default; the spec pins
    * both algorithms to identical labels on every fixture.
    *
    * Each round localCheckpoints (same O(2^rounds) re-analysis hazard
    * as [[run]]); convergence = the star edge set reaches a fixpoint,
    * tested by membership flags riding through smallStar's own (u, v)
    * aggregation (exact set equality) and counted by an `observe`
    * metric on the round's checkpoint job (no extra per-round job).
    */
  def runAlternating(edges: DataFrame, aCol: String = "a_id",
                     bCol: String = "b_id", maxIter: Int = 30): DataFrame =
    runAlternatingCounted(edges, aCol, bCol, maxIter)._1

  private[graft] def runAlternatingCounted(edges: DataFrame, aCol: String = "a_id",
                                           bCol: String = "b_id",
                                           maxIter: Int = 30): (DataFrame, Int) = {
    val verts = checkpointTruncated(
      edges.select(col(aCol).as("id"))
        .union(edges.select(col(bCol).as("id"))).distinct())
    // star edges always point child -> candidate-root; self-loops drop
    var e = checkpointTruncated(
      edges.select(col(aCol).as("u"), col(bCol).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // r15: smallStar's trailing distinct() IS a (u, v)-keyed aggregation,
    // so the convergence probe rides through it instead of paying its own
    // job: the previous round's edge set unions in flagged is_old, the
    // candidate edges flagged is_new, and max() per (u, v) yields the
    // membership of each edge in {e, next}. next = the is_new rows
    // (identical to the old distinct()); converged = no row where the
    // flags differ (exact set equality, both directions — the same test
    // the old count-equality + exceptAll pair computed with 2 extra
    // exchanges and 2 extra actions per round). smallStar's re-keying is
    // immaterial: the probe compares SETS after the aggregation, not
    // per-group lineage. The flag mismatches are counted on the round's
    // checkpoint job ([[checkpointAny]]), so no probe job follows it.
    def smallStarProbed(cur: DataFrame, prev: DataFrame): DataFrame = {
      val down = cur.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val moved = down.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      moved.union(self)
        .filter(col("u") =!= col("v"))
        .withColumn("is_new", lit(true)).withColumn("is_old", lit(false))
        .union(prev.withColumn("is_new", lit(false)).withColumn("is_old", lit(true)))
        .groupBy(col("u"), col("v"))
        .agg(max(col("is_new")).as("is_new"), max(col("is_old")).as("is_old"))
    }

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val (probed, changed) = checkpointAny(smallStarProbed(largeStar(e), e),
        col("is_new") =!= col("is_old"))
      converged = !changed
      e = probed.filter(col("is_new")).select(col("u"), col("v"))
      iter += 1
    }
    // a maxIter cutoff can leave a vertex with several outgoing star
    // edges (smallStar emits one per group it appears in); min-reduce
    // to one best-so-far label per vertex so the contract (exactly one
    // row per vertex) holds converged or not — at the fixpoint this
    // aggregate is a no-op on already-unique keys
    val labels = verts
      .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("comp"), col("id"))).as("comp"))
    (labels, iter)
  }

  /** Full-corpus dedup decisions from a near-dup pair list: every doc
    * mapped to its cluster keeper (min doc id of its transitive
    * cluster; docs in no pair keep themselves). One left join of the
    * corpus against the (small) pair-vertex label table — broadcast
    * when the pair list is, as usual, a tiny fraction of the corpus. */
  def dedupDecisions(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     aCol: String = "a_id", bCol: String = "b_id",
                     alternating: Boolean = false): DataFrame = {
    val labels = if (alternating) runAlternating(pairs, aCol, bCol)
                 else run(pairs, aCol, bCol)
    val comp = labels.select(col("id").as(idCol), col("comp"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster_id"))
      .withColumn("is_dup", col(idCol) =!= col("cluster_id"))
  }

  /** Incremental label maintenance: fold a NEW batch's pairs into
    * existing component labels without re-closing the full historical
    * pair graph. Correctness rests on labels being a lossless quotient
    * of connectivity: prior components are preserved by adding one
    * (id → comp) edge per previously-labeled vertex — a star to its
    * component root — so the rerun closes `newPairs` ∪ stars instead
    * of every pair ever seen. The rerun's input is |prior vertices| +
    * |batch pairs| edges; the full recompute would be |all historical
    * pairs| and grows without bound. Output shape matches [[run]]:
    * (id, comp), comp = min id across the MERGED components (labels
    * can only coarsen — merged clusters relabel to the global min,
    * exactly as a full recompute would). Pair this with
    * IncrementalDedup's signature store: the store finds cross-batch
    * pairs, this folds them into standing clusters. */
  def mergeBatch(labels: DataFrame, newPairs: DataFrame,
                 aCol: String = "a_id", bCol: String = "b_id",
                 maxIter: Int = 20): DataFrame = {
    val stars = labels.select(col("id").as(aCol), col("comp").as(bCol))
    run(stars.unionByName(newPairs.select(col(aCol), col(bCol))), aCol, bCol, maxIter)
  }

  /** [[dedupDecisions]] with a quality-aware keeper policy: instead of
    * the min-id member, each cluster keeps the member that sorts FIRST
    * by `prefCols` descending (id ascending as the final tie-break) —
    * "keep the best copy", the decision real pipelines make when
    * near-dups differ in quality (qd11's policy at exact-group level,
    * lifted to transitive clusters). `prefCols` must exist on `docs`.
    * The keeper argmax is a per-cluster window ORDER BY — near-dup
    * clusters are small by construction (the funnels bound pair
    * volume), so no hot partition; the cluster label itself still
    * comes from the O(log d) pointer-doubling run. */
  def dedupDecisionsBy(docs: DataFrame, pairs: DataFrame,
                       prefCols: Seq[String],
                       idCol: String = "doc_id",
                       aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    require(prefCols.nonEmpty, "prefCols must name at least one quality column")
    val base = dedupDecisions(docs, pairs, idCol, aCol, bCol)
      .join(docs.select(col(idCol) +: prefCols.map(col): _*), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(prefCols.map(c => col(c).desc) :+ col(idCol).asc: _*)
    base
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .select(col(idCol), col("cluster_id"), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }
}
