package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.sys.process._

/** Executor-side git history ingest — the E1 stage the reference runs
  * with `git clone --bare` + PyDriller's commit walk
  * (databaseImport.py:320-444, SURVEY §2.A S7/S8). The reference is
  * single-threaded ("one process per repo type", :347); here the repo
  * list is a Dataset and each PARTITION of repos walks its histories in
  * parallel on the executors via `git log` subprocesses (no network:
  * the repos are already on local disk, exactly like the reference's
  * post-clone state — cloning itself stays out-of-engine per SURVEY).
  *
  * Two outputs, matching the bronze contracts Normalize consumes:
  *  - [[commits]] → the `commits` table shape (raw-epoch dates + tz
  *    offsets like P12, insertions/deletions, parents array — which
  *    also feeds Normalize.commitParents);
  *  - [[deltas]] → the `deltasRaw` contract of Normalize.modifiedFiles
  *    (change_type in PyDriller vocabulary, old/new paths, added/
  *    deleted lines; with `withContent=true` also `diff` — the unified
  *    hunks PyDriller exposes as `file.diff`, capped executor-side at
  *    1 MiB with the P8 sentinel (databaseImport.py:412-416) — and
  *    `nloc`, the post-image line census. PyDriller's nloc is lizard's
  *    comment-stripped source-line count for recognized languages; the
  *    default publishes the deterministic superset — non-blank line
  *    count of the post-image — and None for binary or deleted files.
  *    Pass `nlocMode = Nloc.NlocMode.CommentStripped` for the
  *    lizard-parity count ([[Nloc]] drops comment-only lines for the
  *    common comment syntaxes; unrecognized extensions keep the
  *    superset), shrinking divergence from published dumps to exotic
  *    languages and tokenizer corner cases).
  *
  * Memory shape: all three `git log` passes (--name-status, --numstat,
  * -p) stream per-commit in lockstep — the walker holds ONE commit's
  * entries at a time, and each file's diff accumulator is capped at
  * `maxDiffBytes`, so a mega-repo costs O(files-in-one-commit × 1 MiB),
  * never O(history). nloc reads stream through one long-lived
  * `git cat-file --batch` subprocess per repo (no per-file spawns),
  * counting bytes in fixed 64 KiB chunks without buffering content.
  *
  * Resource governance mirrors the reference: [[commitCount]] is the
  * `git rev-list --count HEAD` probe (:364) and callers skip repos over
  * `max_num_commits` (F3) BEFORE walking.
  *
  * Scale: one task = a batch of repos; each subprocess streams text
  * that is parsed incrementally — no whole-history buffering. Skew
  * (mega-repos) is handled by the same threshold-skip the reference
  * uses, plus spreading the repo list over the session's cores
  * ([[spread]]).
  */
object GitHistorySource {

  /** a repo already materialized on executor-local disk */
  case class RepoRef(repo_id: String, repo_name: String, path: String)

  case class GitCommit(sha: String, repo_id: String,
                       author_name: String, committer_name: String,
                       author_epoch: Long, author_tz: Int,
                       committer_epoch: Long, committer_tz: Int,
                       insertions: Int, deletions: Int,
                       parents: Seq[String], source: String)

  case class GitDelta(repo_id: String, repo_name: String, sha: String,
                      change_type: String, old_path: String, new_path: String,
                      added_lines: Option[Int], deleted_lines: Option[Int],
                      nloc: Option[Int] = None, diff: Option[String] = None)

  /** `git rev-list --count HEAD` — the F3/S8 threshold probe. */
  def commitCount(path: String): Long =
    try Seq("git", "-C", path, "rev-list", "--count", "HEAD").!!.trim.toLong
    catch { case _: Exception => 0L }

  /** Streaming `git log` lines, decoded as UTF-8 EXPLICITLY — the
    * default `lazyLines_!` decodes with the JVM's platform charset,
    * which under a POSIX locale (the common container default) mangles
    * every non-ASCII byte. core.quotepath=false makes git emit raw
    * UTF-8 path bytes instead of C-style octal escapes ("\303\244");
    * together the two keep non-ASCII filenames intact through rename
    * resolution, numstat stitching, and the cat-file probes. */
  /** register cleanup with the surrounding Spark task (when there is
    * one) so abandoned iterators — limit() pushdown, a thrown require,
    * task kill — cannot leak subprocesses inside long-lived executors */
  private def onTaskEnd(cleanup: () => Unit): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => cleanup()))

  /** does `path` hold a git repository at all? (an EMPTY repo — unborn
    * HEAD — answers yes; a plain directory answers no) */
  private def isGitRepo(path: String): Boolean =
    scala.sys.process.Process(Seq("git", "-C", path, "rev-parse", "--git-dir"))
      .!(scala.sys.process.ProcessLogger(_ => ())) == 0

  private def gitLines(path: String, args: Seq[String]): Iterator[String] = {
    val proc = new java.lang.ProcessBuilder(
      (Seq("git", "-C", path, "-c", "core.quotepath=false", "log") ++ args): _*)
      .redirectError(java.lang.ProcessBuilder.Redirect.DISCARD).start()
    proc.getOutputStream.close()
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
    onTaskEnd(() => proc.destroy())
    new Iterator[String] {
      private var emitted = 0L
      private var nextLine = reader.readLine()
      def hasNext: Boolean = {
        if (nextLine == null) {
          reader.close()
          // a git that died mid-stream must be an ERROR, not a silently
          // shorter history. One legitimate nonzero-exit case: `git log`
          // on an unborn HEAD (freshly initialized, zero commits) exits
          // 128 with no output — that IS an empty history, not a failure
          val code = proc.waitFor()
          require(code == 0 || (emitted == 0 && isGitRepo(path)),
            s"git log ${args.headOption.getOrElse("")} in $path exited with " +
              s"$code after $emitted lines — refusing to treat a truncated " +
              "stream as complete")
        }
        nextLine != null
      }
      def next(): String = {
        val l = nextLine; emitted += 1; nextLine = reader.readLine(); l
      }
    }
  }

  /** parse "1670000000 +0130" → (epochSeconds, offsetMinutes) */
  private def parseRawDate(s: String): (Long, Int) = {
    val parts = s.trim.split(' ')
    val epoch = parts(0).toLong
    val tz = parts(1)
    val sign = if (tz.startsWith("-")) -1 else 1
    val hh = tz.substring(1, 3).toInt
    val mm = tz.substring(3, 5).toInt
    (epoch, sign * (hh * 60 + mm))
  }

  /** record marker (%x01) and field separator (%x02) — bytes that git
    * never emits inside names, paths, or raw dates */
  private val Rec = '\u0001'
  private val FieldSep = '\u0002'

  /** one commit-metadata pass per repo: sha, parents, names, raw dates,
    * plus per-commit insertion/deletion totals from --shortstat. */
  private[sources] def walkCommits(r: RepoRef): Iterator[GitCommit] = {
    val fmt = "%x01%H%x02%P%x02%an%x02%cn%x02%ad%x02%cd"
    val out = ArrayBuffer.empty[GitCommit]
    var cur: GitCommit = null
    def flush(): Unit = if (cur != null) { out += cur; cur = null }
    gitLines(r.path, Seq(s"--format=$fmt", "--date=raw", "--shortstat")).foreach { line =>
      if (line.nonEmpty && line.charAt(0) == Rec) {
        flush()
        val f = line.substring(1).split(FieldSep)
        val (aEpoch, aTz) = parseRawDate(f(4))
        val (cEpoch, cTz) = parseRawDate(f(5))
        cur = GitCommit(f(0), r.repo_id, f(2), f(3), aEpoch, aTz, cEpoch, cTz,
          insertions = 0, deletions = 0,
          parents = if (f(1).isEmpty) Seq.empty else f(1).split(' ').toSeq,
          source = "gitlog")
      } else if (cur != null && line.contains("changed")) {
        // " 2 files changed, 10 insertions(+), 3 deletions(-)"
        val ins = "(\\d+) insertion".r.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
        val del = "(\\d+) deletion".r.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
        cur = cur.copy(insertions = ins, deletions = del)
      }
    }
    flush()
    out.iterator
  }

  /** resolve numstat's rename syntax: "pre{old => new}post" or
    * "old => new" → (oldPath, newPath); plain paths map to themselves */
  private[sources] def renamePaths(raw: String): (String, String) = {
    val brace = "\\{(.*) => (.*)\\}".r
    brace.findFirstMatchIn(raw) match {
      case Some(m) =>
        val pre = raw.substring(0, m.start); val post = raw.substring(m.end)
        ((pre + m.group(1) + post).replace("//", "/"),
         (pre + m.group(2) + post).replace("//", "/"))
      case None if raw.contains(" => ") =>
        val Array(o, n) = raw.split(" => ", 2); (o, n)
      case None => (raw, raw)
    }
  }

  /** P8's memory bound applied at the walker: a file's diff accumulator
    * never exceeds this many chars; past it the P8 sentinel replaces the
    * text (exact byte semantics re-checked downstream by
    * Transforms.capDiff on octet_length). */
  private[sources] val MaxDiffBytes: Int = 1 << 20

  /** lazily re-group a `--format=%x01%H` line stream into
    * (sha, body-lines) chunks — memory = one commit's body. */
  private[sources] def perCommit(lines: Iterator[String]): Iterator[(String, Vector[String])] = {
    val it = lines.buffered
    def atMarker = it.hasNext && it.head.nonEmpty && it.head.charAt(0) == Rec
    while (it.hasNext && !atMarker) it.next()
    new Iterator[(String, Vector[String])] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, Vector[String]) = {
        val sha = it.next().substring(1)
        val buf = Vector.newBuilder[String]
        while (it.hasNext && !atMarker) buf += it.next()
        (sha, buf.result())
      }
    }
  }

  /** strip git's C-style path quoting (special chars) — fixture-simple
    * unquote: surrounding double quotes only. */
  private def unquote(p: String): String =
    if (p.length >= 2 && p.head == '"' && p.last == '"') p.substring(1, p.length - 1) else p

  /** parse one commit's `-p` body into printed-path → unified-hunk text
    * (PyDriller's `file.diff`: the text from the first `@@` on; empty
    * for pure renames and binary files, exactly like GitPython). Each
    * accumulator caps at [[MaxDiffBytes]] → P8 sentinel. */
  private[sources] def parseCommitDiffs(body: Vector[String]): Map[String, String] = {
    val out = scala.collection.mutable.HashMap.empty[String, String]
    var path: String = null
    var inHunks = false
    var capped = false
    var sb: java.lang.StringBuilder = null
    def flush(): Unit = if (path != null) {
      out(path) = if (capped) graft.hfc.Transforms.DiffSentinel else sb.toString
      path = null; inHunks = false; capped = false; sb = null
    }
    body.foreach { line =>
      if (line.startsWith("diff --git ")) { flush(); sb = new java.lang.StringBuilder }
      else if (sb != null && !inHunks) {
        // header zone: resolve the printed path (post-image; pre-image for deletes)
        if (line.startsWith("rename to ")) path = unquote(line.substring(10))
        else if (line.startsWith("+++ b/")) path = unquote(line.substring(6))
        else if (line.startsWith("--- a/") && path == null) path = unquote(line.substring(6))
        if (line.startsWith("@@")) inHunks = true
      }
      if (inHunks && !capped) {
        if (sb.length + line.length + 1 > MaxDiffBytes) capped = true
        else { sb.append(line).append('\n') }
      }
    }
    flush()
    out.toMap
  }

  /** one long-lived `git cat-file --batch` subprocess per repo:
    * streaming (sha:path) → post-image non-blank line count, None for
    * binary (NUL byte) or missing objects. Content is counted in
    * fixed-size chunks, never buffered. */
  private final class BatchCat(repoPath: String) {
    private val proc =
      new java.lang.ProcessBuilder("git", "-C", repoPath, "cat-file", "--batch").start()
    private val req = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
    private val in = new java.io.BufferedInputStream(proc.getInputStream)
    private val chunk = new Array[Byte](64 * 1024)

    private def readHeader(): String = {
      val sb = new java.lang.StringBuilder
      var b = in.read()
      while (b != -1 && b != '\n') { sb.append(b.toChar); b = in.read() }
      if (b == -1 && sb.length == 0) null else sb.toString
    }

    def nloc(sha: String, path: String,
             mode: Nloc.NlocMode = Nloc.NlocMode.Superset): Option[Int] = {
      req.write(s"$sha:$path\n"); req.flush()
      val hdr = readHeader()
      if (hdr == null || hdr.endsWith(" missing")) None
      else {
        val size = hdr.substring(hdr.lastIndexOf(' ') + 1).toLong
        var remaining = size
        var binary = false; var nonBlank = 0; var lineHasContent = false
        // comment-stripped mode still streams: one bounded line buffer
        // plus one boolean of cross-line state (open block comment)
        val lang = mode match {
          case Nloc.NlocMode.CommentStripped => Nloc.langFor(path)
          case _ => None
        }
        val lineBuf = if (lang.isDefined) new java.lang.StringBuilder else null
        val MaxLine = 64 * 1024
        var blockOpen = false
        def endLine(): Unit = lang match {
          case Some(l) =>
            val (hasCode, next) = Nloc.lineHasCode(lineBuf.toString, l, blockOpen)
            if (hasCode) nonBlank += 1
            blockOpen = next
            lineBuf.setLength(0)
          case None =>
            if (lineHasContent) nonBlank += 1
          }
        while (remaining > 0) {
          val n = in.read(chunk, 0, math.min(chunk.length.toLong, remaining).toInt)
          if (n < 0) remaining = 0
          else {
            var i = 0
            while (i < n) {
              val b = chunk(i)
              if (b == 0) binary = true
              if (b == '\n') { endLine(); lineHasContent = false }
              else {
                if (b != ' ' && b != '\t' && b != '\r') lineHasContent = true
                if (lineBuf != null && lineBuf.length < MaxLine && b != '\r')
                  lineBuf.append(b.toChar)
              }
              i += 1
            }
            remaining -= n
          }
        }
        in.read() // trailing LF after the object body
        if (lineHasContent || (lineBuf != null && lineBuf.length > 0)) endLine()
        if (binary) None else Some(nonBlank)
      }
    }

    def close(): Unit = { try req.close() catch { case _: Exception => }
                          try in.close() catch { case _: Exception => }
                          proc.destroy() }
  }

  /** one file-delta walk per repo: --name-status (PyDriller change-type
    * vocabulary) and --numstat (line counts) — plus, with content, the
    * `-p` diff pass and cat-file nloc probes — merged COMMIT-BY-COMMIT
    * in lockstep (all passes share `git log`'s ordering and -M), so
    * memory is one commit's entries, not the repo's history. */
  private[sources] def walkDeltas(r: RepoRef, withContent: Boolean,
                                  nlocMode: Nloc.NlocMode = Nloc.NlocMode.Superset): Iterator[GitDelta] = {
    case class Entry(changeType: String, oldPath: String, newPath: String)
    val names = perCommit(gitLines(r.path, Seq("-M", "--name-status", "--format=%x01%H")))
    val nums = perCommit(gitLines(r.path, Seq("-M", "--numstat", "--format=%x01%H")))
    val diffs: Iterator[(String, Vector[String])] =
      if (withContent) perCommit(gitLines(r.path, Seq("-M", "-p", "--no-color", "--format=%x01%H")))
      else Iterator.continually(("", Vector.empty[String]))
    val cat = if (withContent) Some(new BatchCat(r.path)) else None
    cat.foreach(c => onTaskEnd(() => c.close()))

    val rows = names.zip(nums).zip(diffs).flatMap { case (((shaN, nameLines), (shaS, numLines)), (shaP, diffLines)) =>
      require(shaN == shaS && (!withContent || shaN == shaP),
        s"git log passes diverged in ${r.path}: $shaN vs $shaS vs $shaP")
      val entries = nameLines.iterator.filter(_.nonEmpty).map { line =>
        val parts = line.split('\t')
        parts(0).charAt(0) match {
          case 'A' => Entry("ADD", null, parts(1))
          case 'D' => Entry("DELETE", parts(1), null)
          case 'M' => Entry("MODIFY", parts(1), parts(1))
          case 'R' => Entry("RENAME", parts(1), parts(2))
          case 'C' => Entry("COPY", parts(1), parts(2))
          case _   => Entry("UNKNOWN", parts(1), parts(1))
        }
      }.toVector
      // numstat lines for THIS commit: (printed path) → (added, deleted); "-" = binary
      val counts = numLines.iterator.filter(_.nonEmpty).flatMap { line =>
        val parts = line.split('\t')
        if (parts.length >= 3) {
          val added = if (parts(0) == "-") None else Some(parts(0).toInt)
          val deleted = if (parts(1) == "-") None else Some(parts(1).toInt)
          val (_, newPath) = renamePaths(parts.drop(2).mkString("\t"))
          Some(newPath -> (added, deleted))
        } else None
      }.toMap
      val diffTexts = if (withContent) parseCommitDiffs(diffLines) else Map.empty[String, String]
      entries.map { e =>
        val keyPath = Option(e.newPath).getOrElse(e.oldPath)
        val (a, d) = counts.getOrElse(keyPath, (None, None))
        val nl = if (withContent && e.newPath != null) cat.flatMap(_.nloc(shaN, e.newPath, nlocMode)) else None
        GitDelta(r.repo_id, r.repo_name, shaN, e.changeType, e.oldPath, e.newPath, a, d,
          nloc = nl, diff = if (withContent) Some(diffTexts.getOrElse(keyPath, "")) else None)
      }
    }
    new Iterator[GitDelta] {
      def hasNext: Boolean = {
        val h = rows.hasNext
        if (!h) {
          // zip stops at the SHORTEST stream; a survivor with commits
          // left means one pass died early (its own exit-code require
          // fires on drain) — never report a truncated merge as done
          require(!names.hasNext && !nums.hasNext && (!withContent || !diffs.hasNext),
            s"git log passes of ${r.path} ended at different commits — " +
              "refusing to emit a truncated delta stream")
          cat.foreach(_.close())
        }
        h
      }
      def next(): GitDelta = rows.next()
    }
  }

  /** Spread a one-row-per-repo list over the session's default
    * parallelism. Each repo costs a subprocess that cannot be split, and
    * a listing written as one file would otherwise clone or walk every
    * repo inside a single task. The count is explicit, so AQE does not
    * coalesce the tiny list back into one partition. */
  private[sources] def spread[T](repos: Dataset[T]): Dataset[T] =
    repos.repartition(repos.sparkSession.sparkContext.defaultParallelism)

  /** Distributed commit walk over a repo list. */
  def commits(repos: Dataset[RepoRef]): Dataset[GitCommit] = {
    import repos.sparkSession.implicits._
    spread(repos).flatMap(walkCommits _)
  }

  /** Distributed per-commit file-delta walk (the `deltasRaw` feed of
    * Normalize.modifiedFiles). `withContent=true` adds the content
    * pass: per-file unified `diff` hunks (P8-capped, like
    * databaseImport.py:407-416) and post-image `nloc`. */
  def deltas(repos: Dataset[RepoRef], withContent: Boolean = false,
             nlocMode: Nloc.NlocMode = Nloc.NlocMode.Superset): Dataset[GitDelta] = {
    import repos.sparkSession.implicits._
    spread(repos).flatMap(walkDeltas(_, withContent, nlocMode))
  }

  /** `commits` silver shape with proper timestamp + tz-offset split
    * (P12) from the raw epochs. */
  def commitsTable(spark: SparkSession, repos: Dataset[RepoRef]): DataFrame =
    commits(repos).toDF()
      .select(col("sha"), col("repo_id"),
        col("author_name"), col("committer_name"),
        timestamp_seconds(col("author_epoch")).as("author_date"),
        col("author_tz"),
        timestamp_seconds(col("committer_epoch")).as("committer_date"),
        col("committer_tz"),
        col("insertions"), col("deletions"),
        lit(true).as("in_main_branch"), col("source"), col("parents"))
}
