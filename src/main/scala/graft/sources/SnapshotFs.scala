package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{GraftShims, SparkSession}

/** Hadoop-`FileSystem` face of the lakehouse maintenance machinery
  * (staged-swap promotion, crash recovery, compaction, one-time
  * layout builds). Every listing / rename / delete the snapshot
  * paths perform routes through here rather than `java.io.File`, so
  * the SAME code runs against HDFS or an object store — at 100 TB
  * these maintenance passes execute against `s3a://`/`abfs://`
  * paths, where a `java.io.File` walk silently sees nothing. The
  * filesystem is resolved per-path from the active session's Hadoop
  * configuration (scheme-dispatched: `file:`, `hdfs:`, `s3a:`, …),
  * falling back to a default `Configuration` when no session is up
  * (shutdown hooks). It also allocates the process's scratch space
  * ([[scratch]]).
  *
  * Rename atomicity: `FileSystem.rename` is atomic on HDFS and on
  * `file:`; object stores emulate it. The staged-swap protocol
  * ([[Ingest.swapStaged]]) only needs per-DIRECTORY renames to be
  * all-or-nothing OR resumable — and it is resumable by design: a
  * partition is displaced only while its replacement still sits in
  * `.next`, so an interrupted copy-based rename is finished or
  * rolled back by [[Ingest.recoverSnapshot]].
  */
private[graft] object SnapshotFs {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(path: String): Boolean = {
    val p = new Path(path); fs(p).exists(p)
  }

  /** `_SUCCESS` marker check — "this directory's write committed". */
  def hasSuccess(path: String): Boolean = exists(path + "/_SUCCESS")

  def mkdirs(path: String): Unit = {
    val p = new Path(path); fs(p).mkdirs(p); ()
  }

  /** Children of `path`; empty when the path doesn't exist (the
    * `Option(listFiles)` idiom of the local-FS code). */
  def list(path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) f.listStatus(p).toSeq else Seq.empty
  }

  def hasChildren(path: String): Boolean = list(path).nonEmpty

  /** Recursive delete; no-op when absent. */
  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
    ()
  }

  /** Rename `from` onto `to` (parent must exist; `to` must not). */
  def rename(from: String, to: String): Unit = {
    val p = new Path(from)
    require(fs(p).rename(p, new Path(to)), s"rename $from -> $to failed")
  }

  // ── Scratch space ──────────────────────────────────────────────
  // The files graft writes for its own use (layout copies, commit
  // histories, compaction fixtures) live under ONE root per process,
  // `<java.io.tmpdir>/graft_<pid>`, a session's own files under its
  // `session_<id>` directory there: the pid isolates concurrent
  // bench/verify JVMs, the session id concurrent sessions of one
  // process, a shutdown hook deletes the root on exit, and
  // the first allocation removes the roots of dead processes (a
  // crashed JVM cannot delete its own). Pid liveness is only
  // meaningful on this machine's local disk; pointing scratch at a
  // shared store only requires replacing this allocator.

  private def self: Long = ProcessHandle.current().pid()

  private def tmpdir: String = System.getProperty("java.io.tmpdir")

  private lazy val root: String = {
    sweepDeadRoots()
    val r = s"$tmpdir/graft_$self"
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteTree(r), "graft-scratch-sweep"))
    r
  }

  /** Delete every `graft_<pid>` root under `java.io.tmpdir` whose
    * process is dead. Runs once per process, on the first [[scratch]]
    * call. */
  private[graft] def sweepDeadRoots(): Unit =
    for (st <- list(tmpdir); n = st.getPath.getName
         if st.isDirectory && n.matches("graft_\\d{1,18}")) {
      val pid = n.stripPrefix("graft_").toLong
      val alive = pid == self ||
        ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
      if (!alive) deleteTree(st.getPath.toString)
    }

  /** This process's scratch path for (`kind`, corpus `dir`), for
    * files no session owns: the caller deletes it, or leaves it to the
    * root's shutdown hook. The name keys on the FULL `dir` path, as
    * [[graft.SessionMemo]] does, so two corpora sharing a last path
    * component never share files. */
  private[graft] def scratch(kind: String, dir: String): String =
    s"$root/${name(kind, dir)}"

  /** Session `s`'s scratch path for (`kind`, `dir`), under the
    * session's own directory: a session's [[layout]]s and their
    * releases never touch another session's files, also when two
    * sessions of one process build the same layout. */
  private[graft] def scratch(s: SparkSession, kind: String, dir: String): String =
    s"${sessionDir(s)}/${name(kind, dir)}"

  private def sessionDir(s: SparkSession): String =
    s"$root/session_${GraftShims.sessionId(s).replace("-", "")}"

  /** Delete session `s`'s scratch directory, with whatever its
    * releases left there: [[graft.SessionMemo.clear]] runs this last,
    * so a process that cycles sessions keeps no directory per
    * session. */
  private[graft] def dropSession(s: SparkSession): Unit =
    deleteTree(sessionDir(s))

  private def name(kind: String, dir: String): String = {
    val leaf = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
    f"${kind}_${leaf}_${dir.hashCode}%08x"
  }

  /** The session [[scratch]] path of a (`kind`, `dir`) layout, written
    * by `write` once per (session, sf dir): the `<kind>_layout:$dir`
    * `SessionMemo.once` entry, whose release deletes the files. Layout
    * data is a pure function of `dir`, so a later call reads the first
    * call's files instead of overwriting them under a reader whose
    * file index already listed them. */
  def layout(s: SparkSession, kind: String, dir: String)
      (write: String => Unit): String = {
    val path = scratch(s, kind, dir)
    graft.SessionMemo.once(s, s"${kind}_layout:$dir")(write(path))(_ => deleteTree(path))
    path
  }
}
