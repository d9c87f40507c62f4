package perfbench

import graft.hfc.{AtomicSwap, HfcMetrics, IncrementalRefresh, MergeWriter, Normalize, Schemas}
import graft.sources.GitCloneSource.CloneTask
import graft.sources.{GitCloneSource, GitHistorySource}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** The paper's own pipeline over a generated fleet of git repositories
  * (gen_fleet.py). Each iteration starts from empty clone and silver
  * directories and runs, as timed ops:
  *
  *  - `import`: clone (GitCloneSource) → history walk (GitHistorySource)
  *    → Normalize → MergeWriter upsert of every table in
  *    Schemas.writeOrder → AtomicSwap publish;
  *  - `refresh`: the monthly IncrementalRefresh, where the fresh tenth of
  *    the fleet is re-cloned from its grown origin and re-walked;
  *  - `metrics`: a pass of the HfcMetrics queries M1..M8 over the new
  *    silver tables, six times.
  *
  * There is no warm-up: a monthly import is a fresh process, so the
  * JVM's cold start is part of what users pay. Row counts and the M1
  * result are read back between ops, untimed, for the checks run.py
  * makes against the fleet recipe.
  */
final class HubIngest(h: Harness) extends Workload {
  import h.spark.implicits._
  private val spark = h.spark
  private val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private val manifest = s"${h.data}/manifest.json"
  private val bronze = s"${h.work}/bronze"
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val counters = LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private val listingPath = s"$bronze/listing"
  private def silver(t: String) = s"${h.work}/silver/$t"
  private def stage(t: String) = s"${h.work}/stage/$t"
  private def read(path: String): DataFrame = spark.read.parquet(path)

  private lazy val fleet = spark.read.option("multiLine", "true").json(manifest)
    .select(explode($"repos").as("r")).select("r.*")

  def setup(times: LinkedHashMap[String, Double]): Unit = {
    val s = System.nanoTime()
    h.tracer.span("bronze") {
      writeBronze()
      Seq("listing", "discussions", "events").foreach(t => read(s"$bronze/$t").schema)
    }
    times("bronze_s") = (System.nanoTime() - s) / 1e9
  }

  /** (refresh time, staleness watermark) of the monthly refresh */
  private lazy val refreshTimes: (Long, Long) = {
    val m = spark.read.option("multiLine", "true").json(manifest)
      .select($"t_refresh", $"watermark").first()
    (m.getLong(0), m.getLong(1))
  }

  /** the hub API payloads (listing, discussions, discussion events),
    * synthesized from the manifest in the shapes Normalize consumes */
  private def writeBronze(): Unit = {
    val lfsType = "struct<size:bigint,sha256:string,pointer_size:bigint>"
    // the listing's file list: the files the history writes, then data parts
    val sibling = (k: org.apache.spark.sql.Column) => struct(
      when(k === 0, lit("README.md")).when(k < 4, concat(lit("f"), k - 1, lit(".txt")))
        .otherwise(concat(lit("data/part"), k, lit(".bin"))).as("rfilename"),
      (($"idx" * 31 + k * 7) % 997 + 100).cast("long").as("size"),
      md5(concat_ws("/", lit("blob"), $"idx", k)).as("blob_id"),
      lit(null).cast(lfsType).as("lfs"))
    fleet.select(
        $"idx", $"name", $"author", $"type", $"fresh", $"origin", $"origin2", $"discussions",
        md5(concat(lit("sha"), $"idx")).as("sha"),
        timestamp_seconds($"last_modified").as("last_modified"),
        lit(false).as("private"),
        concat(lit("license: mit\nidx: "), $"idx").as("card_data"),
        when($"idx" % 10 === 0, lit("True")).cast("string").as("gated"),
        lit(false).as("disabled"),
        $"likes".cast("int").as("likes"),
        concat($"type", lit("s/"), $"name").as("repo_id"),
        transform(sequence(lit(0), $"n_files" - 1), sibling).as("siblings"),
        // gen_fleet.tags gives the same list
        transform(sequence(lit(0), lit(4)), k => concat(lit("tag"), ($"idx" + k * 7) % 40))
          .as("tags"),
        ($"idx" % 5000).cast("long").as("downloads"),
        concat(lit("pipeline"), $"idx" % 12).as("pipeline_tag"),
        when($"idx" % 3 === 0, concat(lit("pwc-"), $"idx")).as("paperswithcode_id"))
      .write.mode("overwrite").parquet(s"$bronze/listing")
    val discussions = read(s"$bronze/listing")
      .filter($"discussions" > 0)
      .select($"idx", $"repo_id", explode(sequence(lit(1), $"discussions")).as("num"))
      .select($"num", $"repo_id",
        concat(lit("user"), $"idx" % 40).as("author"),
        concat(lit("discussion "), $"num").as("title"),
        when($"num" === 1, lit("open")).otherwise(lit("merged")).as("status"),
        timestamp_seconds(lit(1700000000L) + $"idx" * 11 + $"num").as("created_at"),
        ($"num" === 2).as("is_pull_request"),
        when($"num" === 2, lit("refs/heads/main")).as("target_branch"),
        when($"num" === 2, md5(concat(lit("bogus"), $"idx"))).as("merge_commit_oid"),
        lit(null).cast("string").as("diff"),
        when($"num" === 2, concat(lit("refs/pr/"), $"num")).as("git_reference"))
    discussions.write.mode("overwrite").parquet(s"$bronze/discussions")
    read(s"$bronze/discussions")
      .select($"repo_id", $"num".as("discussion_num"), $"author", $"created_at",
        explode(array(lit("comment"), lit("status-change"))).as("event_type"))
      .select(
        md5(concat($"repo_id", $"discussion_num", $"event_type")).as("id"),
        $"discussion_num", $"repo_id", $"event_type", $"created_at", $"author",
        when($"event_type" === "comment", lit("looks good")).as("content"),
        when($"event_type" === "comment", lit(false)).as("edited"),
        when($"event_type" === "comment", lit(false)).as("hidden"),
        when($"event_type" === "status-change", lit("closed")).as("new_status"),
        lit(null).cast("string").as("summary"),
        lit(null).cast("string").as("sha"),
        lit(null).cast("string").as("old_title"),
        lit(null).cast("string").as("new_title"),
        lit("{}").as("full_data"))
      .write.mode("overwrite").parquet(s"$bronze/events")
  }

  /** clone + walk: bronze commits and deltas of the repos in `listing` */
  private def cloneAndWalk(listing: DataFrame, urlCol: String, clones: String,
                           out: String): Unit = {
    val tasks = listing.select($"repo_id", $"name".as("repo_name"),
      concat(lit("file://"), col(urlCol)).as("url")).as[CloneTask]
    h.tracer.span("sources.clone") {
      GitCloneSource.cloneAll(tasks, clones, maxAttempts = 2, timeoutSec = 120).toDF()
        .write.mode("overwrite").parquet(s"$out/clone_results")
    }
    h.tracer.span("sources.walk") {
      val refs = GitCloneSource.refs(
        read(s"$out/clone_results").as[GitCloneSource.CloneResult])
      GitHistorySource.commitsTable(spark, refs)
        .withColumn("message", lit(null).cast("string"))
        .write.mode("overwrite").parquet(s"$out/commits")
      GitHistorySource.deltas(refs, withContent = true).toDF()
        .write.mode("overwrite").parquet(s"$out/deltas")
    }
  }

  private val keys: Map[String, Seq[String]] = Map(
    "tag" -> Seq("name"), "author" -> Seq("username"), "repository" -> Seq("id"),
    "model" -> Seq("model_id"), "dataset" -> Seq("dataset_id"), "repo_file" -> Seq("id"),
    "tags_in_repo" -> Seq("tag_name", "repo_id"), "commits" -> Seq("sha", "repo_id"),
    "commit_parents" -> Seq("commit_sha", "parent_sha"),
    "modified_file" -> Seq("modified_file_id"),
    "files_in_commit" -> Seq("sha", "modified_file_id"),
    "discussion" -> Seq("num", "repo_id"), "discussion_event" -> Seq("id"))

  /** bronze → silver batches, written to the stage */
  private def normalize(): Unit = h.tracer.span("hfc.normalize") {
    val listing = read(listingPath)
    val models = listing.filter($"type" === "model")
    val datasets = listing.filter($"type" === "dataset")
    val commitsRaw = read(stage("walk/commits"))
    val discussionsRaw = read(s"$bronze/discussions")
    val files = Normalize.repoFiles(listing)
    val (tagVocab, tagEdges) = Normalize.tagTables(listing)
    val authors = commitsRaw.select($"author_name".as("username"), lit("commit").as("source"))
      .unionByName(listing.select($"author".as("username"), lit("hf_owner").as("source")))
      .unionByName(discussionsRaw.select($"author".as("username"), lit("hf").as("source")))
      .withColumn("__rn", row_number().over(Window.partitionBy($"username").orderBy($"source")))
      .filter($"__rn" === 1)
      .select($"username", lit(null).cast("string").as("avatar_url"),
        lit(null).cast("boolean").as("is_pro"), lit(null).cast("string").as("fullname"),
        lit("user").as("type"), $"source")
    val modified = Normalize.modifiedFiles(read(stage("walk/deltas")), files)
    val batches = Map(
      "tag" -> tagVocab,
      "author" -> authors,
      "repository" -> Normalize.repositories(models, datasets, listing.limit(0)),
      "model" -> models.select($"repo_id".as("model_id"), $"pipeline_tag", $"downloads",
        lit("transformers").as("library_name"), lit(null).cast("string").as("config")),
      "dataset" -> datasets.select($"repo_id".as("dataset_id"),
        lit(null).cast("string").as("description"), lit(null).cast("string").as("citation"),
        $"paperswithcode_id", $"downloads"),
      "repo_file" -> files,
      "tags_in_repo" -> tagEdges,
      "commits" -> commitsRaw.drop("parents"),
      "commit_parents" -> Normalize.commitParents(commitsRaw),
      "modified_file" -> modified.drop("sha"),
      "files_in_commit" -> Normalize.filesInCommit(modified),
      "discussion" -> Normalize.repairMergeCommits(discussionsRaw, commitsRaw),
      "discussion_event" -> Normalize.discussionEvents(read(s"$bronze/events")))
    batches.foreach { case (t, df) => df.write.mode("overwrite").parquet(stage(s"norm/$t")) }
  }

  /** upsert each staged batch into its silver table (writeOrder), then
    * publish every table with a crash-safe swap */
  private def mergeAndSwap(tables: Seq[String], span: String)(
      merged: String => DataFrame): Unit = {
    h.tracer.span(span) {
      tables.foreach { t =>
        merged(t).write.mode("overwrite").parquet(AtomicSwap.stagingFor(silver(t)))
      }
    }
    h.tracer.span("hfc.swap") {
      tables.foreach(t => AtomicSwap.commitDir(fs, silver(t), AtomicSwap.stagingFor(silver(t))))
    }
  }

  private def importOp(): Unit = {
    cloneAndWalk(read(listingPath), "origin", s"${h.work}/clones", stage("walk"))
    normalize()
    val tables = Schemas.writeOrder.filter(keys.contains)
    mergeAndSwap(tables, "hfc.merge") { t =>
      val batch = read(stage(s"norm/$t"))
      MergeWriter.upsert(batch.limit(0), batch, keys(t)) // first import: empty silver
    }
  }

  private def refreshOp(): Unit = {
    val (t, watermark) = refreshTimes
    val listing = read(listingPath)
    val fresh = listing.filter($"fresh")
    cloneAndWalk(fresh, "origin2", s"${h.work}/clones2", stage("refresh"))
    val batch = listing
      .withColumn("likes", ($"likes" + 1).cast("int"))
      .withColumn("last_modified",
        when($"fresh", timestamp_seconds(lit(t))).otherwise($"last_modified"))
    val commitsRaw = read(stage("refresh/commits"))
    val modified = Normalize.modifiedFiles(read(stage("refresh/deltas")), read(silver("repo_file")))
    val updates: Map[String, DataFrame] = Map(
      "commits" -> commitsRaw.drop("parents"),
      "modified_file" -> modified.drop("sha"),
      "files_in_commit" -> Normalize.filesInCommit(modified))
    mergeAndSwap(Seq("repository", "commits", "modified_file", "files_in_commit"),
        "hfc.refresh_merge") {
      case "repository" =>
        IncrementalRefresh.refresh(read(silver("repository")),
          Normalize.repositories(batch.filter($"type" === "model"),
            batch.filter($"type" === "dataset"), batch.limit(0)),
          Seq("id"), "last_modified", timestamp_seconds(lit(watermark)), Seq("likes"))
      case tbl => MergeWriter.upsert(read(silver(tbl)), updates(tbl), keys(tbl))
    }
  }

  /** M1..M8 over the current silver tables; M3 is for the repo with
    * the most commits */
  private def metrics(): Seq[(String, () => DataFrame)] = {
    val repoId = read(silver("commits")).groupBy($"repo_id").count()
      .orderBy($"count".desc, $"repo_id").first().getString(0)
    Seq(
      "M1" -> (() => HfcMetrics.topOrgsByModels(read(silver("repository")))),
      "M2" -> (() => HfcMetrics.filesPerRepoHistogram(read(silver("repo_file")))),
      "M3" -> (() => HfcMetrics.fileModificationHeatmap(read(silver("modified_file")),
        read(silver("files_in_commit")), read(silver("commits")), repoId)),
      "M4" -> (() => HfcMetrics.paperswithcodeSplit(read(silver("dataset")))),
      "M5" -> (() => HfcMetrics.discussionShareByType(read(silver("repository")),
        read(silver("discussion")))),
      "M6" -> (() => HfcMetrics.discussionsPerRepoHistogram(read(silver("discussion")))),
      "M7" -> (() => HfcMetrics.avgCommentsPerDiscussion(read(silver("discussion_event")))),
      "M8" -> (() => HfcMetrics.nonOwnerDiscussionShare(read(silver("repository")),
        read(silver("discussion")))))
  }

  /** One `metrics` op is a dashboard pass: M1..M8, one after the other.
    * Dashboards read the metrics more than once per refresh; with six
    * passes the median op of the iteration is a warm pass (import and
    * refresh are the two slowest ops, the first pass is cold). */
  private def metricOps(iter: Int): Unit = {
    val ms = metrics()
    (1 to 6).foreach { _ =>
      h.op("metrics", iter) { _ =>
        ms.foreach { case (_, build) => h.tracer.span("hfc.metrics")(h.noop(build())) }
      }
    }
  }

  private def counts(tables: Seq[String]): Map[String, Long] =
    tables.filter(t => fs.exists(new org.apache.hadoop.fs.Path(silver(t))))
      .map(t => t -> read(silver(t)).count()).toMap

  def run(): Unit = {
    var iter = 0
    while (!h.deadlinePassed) {
      iter += 1
      h.tracer.newTrace()
      Seq("clones", "clones2", "stage", "silver").foreach(d => h.deleteTree(s"${h.work}/$d"))
      h.tracer.span("iteration") {
        val imported = h.op("import", iter)(_ => importOp())
        val afterImport = counts(keys.keys.toSeq)
        val silverBytes = h.dirBytes(s"${h.work}/silver")
        val refreshed = imported && h.op("refresh", iter)(_ => refreshOp())
        val afterRefresh = counts(Seq("repository", "commits", "modified_file", "files_in_commit"))
        if (refreshed) metricOps(iter)
        val m1 = if (refreshed)
          HfcMetrics.topOrgsByModels(read(silver("repository"))).collect()
            .map(r => Seq(r.getString(0), r.getLong(1))).toSeq
        else Nil
        checks += Map("iter" -> iter, "import" -> afterImport, "refresh" -> afterRefresh,
          "m1" -> m1)
        if (h.tracer.enabled) traceCounters(silverBytes)
      }
    }
  }

  /** traced run only: sizes and counts behind the sources/hfc metrics */
  private def traceCounters(importSilverBytes: Long): Unit = {
    val rewritten = Seq("repository", "commits", "modified_file", "files_in_commit")
      .map(t => h.dirBytes(silver(t))).sum
    val silverBytes = h.dirBytes(s"${h.work}/silver")
    val bronzeBytes = h.dirBytes(bronze) + h.dirBytes(stage("walk"))
    val rows = keys.keys.toSeq.map(t => read(silver(t)).count()).sum
    val walked = Seq("walk", "refresh").map(s => read(stage(s"$s/commits")).count()).sum
    val deltas = Seq("walk", "refresh").map(s => read(stage(s"$s/deltas")).count()).sum
    val failed = Seq("walk", "refresh")
      .map(s => read(stage(s"$s/clone_results")).filter($"error".isNotNull).count()).sum
    Seq(
      "hfc.rows_written" -> rows.toDouble,
      "hfc.bytes_written" -> (importSilverBytes + rewritten).toDouble,
      "hfc.write_amplification" -> importSilverBytes.toDouble / bronzeBytes,
      "hfc.refresh_rewrite_ratio" -> rewritten.toDouble / silverBytes,
      "sources.commits_walked" -> walked.toDouble,
      "sources.deltas_walked" -> deltas.toDouble,
      "sources.clone_failed" -> failed.toDouble,
      "iterations" -> 1.0).foreach { case (k, v) => counters(k) += v }
  }

  override def finish(): Map[String, Any] =
    Map("checks" -> checks, "counters" -> counters)
}
