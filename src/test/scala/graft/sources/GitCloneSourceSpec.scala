package graft.sources

import graft.SparkTestBase
import graft.sources.GitCloneSource.{CloneResult, CloneTask}

import java.io.File
import java.nio.file.{Files, Paths}

/** The clone stage against `file://` remotes (the zero-egress
  * transport): bare clone, walkability of the clone, idempotent
  * re-run, quarantine for dead remotes, torn-clone cleanup. */
class GitCloneSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def run(dir: File, cmd: String*): Unit = {
    val pb = scala.sys.process.Process(
      Seq("git", "-c", "user.name=t", "-c", "user.email=t@l",
          "-c", "commit.gpgsign=false") ++ cmd, dir)
    assert(pb.! == 0, s"git ${cmd.mkString(" ")} failed")
  }

  private def sourceRepo(): File = {
    val dir = Files.createTempDirectory("graft-clone-src").toFile
    run(dir, "init", "-q", "-b", "main")
    Files.write(Paths.get(dir.toString, "a.txt"), "one\n".getBytes)
    run(dir, "add", "a.txt"); run(dir, "commit", "-q", "-m", "c1")
    Files.write(Paths.get(dir.toString, "a.txt"), "one\ntwo\n".getBytes)
    run(dir, "add", "a.txt"); run(dir, "commit", "-q", "-m", "c2")
    dir
  }

  test("bare clone succeeds, is walkable, and re-runs are idempotent") {
    val src = sourceRepo()
    val work = Files.createTempDirectory("graft-clone-work").toString
    try {
      val tasks = Seq(CloneTask("models/o/r", "o/r", s"file://${src.getAbsolutePath}")).toDS()
      val r1 = GitCloneSource.cloneAll(tasks, work).collect().head
      assert(r1.error == null && r1.attempts == 1)
      // bare: HEAD + objects, no working tree
      assert(new File(r1.path, "HEAD").isFile && new File(r1.path, "objects").isDirectory)
      assert(!new File(r1.path, "a.txt").exists())
      // the clone IS a GitHistorySource input: full history walks out
      val commits = GitHistorySource.commits(GitCloneSource.refs(
        GitCloneSource.cloneAll(tasks, work))).collect()
      assert(commits.length == 2)
      // same-second commits: identify root/child structurally, not by epoch
      val root = commits.find(_.parents.isEmpty).get
      val child = commits.find(_.parents.nonEmpty).get
      assert(child.parents == Seq(root.sha))
      assert(child.insertions == 1) // c2 added one line
      assert(commits.forall(_.repo_id == "models/o/r"))
      // idempotent re-run: completed clone reused without a subprocess
      val r2 = GitCloneSource.cloneAll(tasks, work).collect().head
      assert(r2.error == null && r2.attempts == 0 && r2.path == r1.path)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(src)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(work))
    }
  }

  test("dead remote quarantines after bounded retries; no torn directory left behind") {
    val work = Files.createTempDirectory("graft-clone-work2").toString
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val r = GitCloneSource.cloneOne(
        CloneTask("models/o/dead", "o/dead", "file:///nonexistent/repo/path"),
        work, maxAttempts = 3, timeoutSec = 60, sleepMs = sleeps += _)
      assert(r.error != null && r.attempts == 3)
      assert(r.path == null)
      assert(sleeps.toSeq == Seq(250L, 500L)) // the shared backoff schedule
      // failed attempts cleaned up: no partial object store remains
      assert(!new File(work, GitCloneSource.dirNameFor("models/o/dead")).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(work))
  }

  test("mixed fleet: successes walk, failures quarantine — one dead repo never kills the job") {
    val src = sourceRepo()
    val work = Files.createTempDirectory("graft-clone-work3").toString
    try {
      val tasks = Seq(
        CloneTask("models/o/good", "o/good", s"file://${src.getAbsolutePath}"),
        CloneTask("models/o/bad", "o/bad", "file:///no/such/remote"),
      ).toDS()
      val rs = GitCloneSource.cloneAll(tasks, work, maxAttempts = 2)
        .collect().map(r => r.repo_id -> r).toMap
      assert(rs("models/o/good").error == null)
      assert(rs("models/o/bad").error != null)
      val walked = GitHistorySource.commits(
        GitCloneSource.refs(GitCloneSource.cloneAll(tasks, work, maxAttempts = 2)))
        .collect()
      assert(walked.nonEmpty && walked.forall(_.repo_id == "models/o/good"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(src)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(work))
    }
  }

  test("a one-partition listing clones and walks on several tasks with identical rows") {
    import org.apache.spark.sql.functions.spark_partition_id
    val srcs = (0 until 5).map(_ => sourceRepo())
    val work = Files.createTempDirectory("graft-clone-work4").toString
    try {
      val tasks = srcs.zipWithIndex.map { case (src, i) =>
        CloneTask(s"models/o/r$i", s"o/r$i", s"file://${src.getAbsolutePath}")
      }.toDS().coalesce(1)
      assert(tasks.rdd.getNumPartitions == 1)
      // spark_partition_id in the same stage as the subprocess = the task
      // that ran it
      def taskCount(df: org.apache.spark.sql.DataFrame): Int =
        df.select(spark_partition_id()).distinct().count().toInt

      val cloned = GitCloneSource.cloneAll(tasks, work)
      val byId = cloned.collect().map(r => r.repo_id -> r).toMap
      assert(byId.keySet == srcs.indices.map(i => s"models/o/r$i").toSet)
      byId.values.foreach { r =>
        assert(r.error == null && r.attempts == 1, s"$r")
        assert(r.path == new File(work, GitCloneSource.dirNameFor(r.repo_id)).getAbsolutePath)
      }
      // the re-run reuses the clones, on the same spread
      assert(taskCount(cloned.toDF()) > 1, "every clone ran in one task")

      val refs = GitCloneSource.refs(
        byId.values.toSeq.sortBy(_.repo_id).toDS().coalesce(1))
      val local = refs.collect().toSeq
      val commits = GitHistorySource.commits(refs)
      val deltas = GitHistorySource.deltas(refs)
      assert(taskCount(commits.toDF()) > 1 && taskCount(deltas.toDF()) > 1,
        "every walk ran in one task")
      assert(commits.collect().toSeq.sortBy(_.toString) ==
        local.flatMap(GitHistorySource.walkCommits).sortBy(_.toString))
      assert(deltas.collect().toSeq.sortBy(_.toString) ==
        local.flatMap(GitHistorySource.walkDeltas(_, withContent = false,
          Nloc.NlocMode.Superset)).sortBy(_.toString))
      assert(commits.count() == 10)
    } finally {
      srcs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(work))
    }
  }
}
