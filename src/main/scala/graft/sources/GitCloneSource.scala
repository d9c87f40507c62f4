package graft.sources

import graft.sources.GitHistorySource.RepoRef
import org.apache.spark.sql.Dataset

import java.io.File

/** E1 stage-0: the reference's `git clone --bare` step
  * (extractor/databaseImport.py:350) as a distributed, quarantining
  * fetch stage in front of [[GitHistorySource]].
  *
  * Shape: one clone task per repo, fanned out with `mapPartitions`
  * (each executor task owns whole clones — a subprocess cannot be
  * split), bounded retries with the [[ResilientFetch]] backoff
  * schedule, and failures returned as ERROR ROWS, never task failures
  * — one dead remote must not kill a million-repo crawl (the same
  * quarantine discipline as the HTTP fetches and Governance F8).
  *
  * Semantics the reference relies on, kept here:
  *  - `--bare`: no working tree — the history walk (`git log`,
  *    `cat-file`) reads the object store directly, and disk cost is
  *    the packfile, not a checkout;
  *  - idempotent re-runs: an existing completed clone is reused
  *    (`attempts = 0`), so a crashed driver reruns cheaply;
  *  - partial clones from a killed subprocess are DELETED before
  *    retry — a half-written object store must never be mistaken for
  *    a completed clone.
  *
  * Works with any transport git supports; specs exercise `file://`
  * remotes (the only one available in a zero-egress container —
  * network transports change no code here).
  */
object GitCloneSource {

  /** (repo_id, repo_name, clone url) — the listing row's clone spec */
  final case class CloneTask(repo_id: String, repo_name: String, url: String)

  /** outcome row: `path` set on success, `error` set on quarantine */
  final case class CloneResult(repo_id: String, repo_name: String,
                               path: String, attempts: Int, error: String)

  /** a completed bare clone has HEAD and an objects dir */
  private def isCompleteBare(dir: File): Boolean =
    new File(dir, "HEAD").isFile && new File(dir, "objects").isDirectory

  private def deleteRecursively(f: File): Unit = {
    val files = Option(f.listFiles()).getOrElse(Array.empty)
    files.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** path-safe directory name for a repo id ("models/o/r" → "models_o_r") */
  private[sources] def dirNameFor(repoId: String): String =
    repoId.replaceAll("[^A-Za-z0-9._-]", "_")

  /** one clone with timeout; the destination is cleaned on failure so
    * retries never see a torn object store */
  private[sources] def cloneOnce(task: CloneTask, dest: File,
                                 timeoutSec: Long): Either[String, Unit] = {
    val pb = new ProcessBuilder("git", "clone", "--bare", "--quiet", task.url,
      dest.getAbsolutePath)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val finished = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      proc.destroyForcibly(); proc.waitFor()
      deleteRecursively(dest)
      Left(s"timeout after ${timeoutSec}s")
    } else if (proc.exitValue() != 0) {
      deleteRecursively(dest)
      Left(s"git exit ${proc.exitValue()}: ${out.linesIterator.take(3).mkString(" | ").take(300)}")
    } else Right(())
  }

  /** clone one task into `workDir` with bounded backed-off retries;
    * never throws */
  def cloneOne(task: CloneTask, workDir: String,
               maxAttempts: Int = 3, timeoutSec: Long = 600,
               sleepMs: Long => Unit = Thread.sleep): CloneResult = {
    val dest = new File(workDir, dirNameFor(task.repo_id))
    if (isCompleteBare(dest))
      return CloneResult(task.repo_id, task.repo_name, dest.getAbsolutePath, 0, null)
    val policy = ResilientFetch.Policy(maxAttempts = maxAttempts)
    var attempt = 0
    var lastError = "unattempted"
    while (attempt < maxAttempts) {
      attempt += 1
      cloneOnce(task, dest, timeoutSec) match {
        case Right(()) =>
          return CloneResult(task.repo_id, task.repo_name, dest.getAbsolutePath, attempt, null)
        case Left(err) =>
          lastError = err
          if (attempt < maxAttempts) sleepMs(policy.delayMs(attempt))
      }
    }
    CloneResult(task.repo_id, task.repo_name, null, attempt, lastError)
  }

  /** distributed clone fan-out, spread over the session's cores
    * whatever the listing's partitioning; `workDir` must be reachable
    * from the executors (local dir in local mode, shared/scratch volume
    * on a cluster) */
  def cloneAll(tasks: Dataset[CloneTask], workDir: String,
               maxAttempts: Int = 3, timeoutSec: Long = 600): Dataset[CloneResult] = {
    import tasks.sparkSession.implicits._
    GitHistorySource.spread(tasks)
      .mapPartitions(_.map(cloneOne(_, workDir, maxAttempts, timeoutSec)))
  }

  /** successful clones as [[GitHistorySource]] inputs */
  def refs(results: Dataset[CloneResult]): Dataset[RepoRef] = {
    import results.sparkSession.implicits._
    results.filter(_.error == null)
      .map(r => RepoRef(r.repo_id, r.repo_name, r.path))
  }
}
