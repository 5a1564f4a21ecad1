package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The commit moves every versioned-table writer shares, extracted from
  * the write paths so the 100 TB object-store story is a BINDING, not a
  * comment: [[Sinks]] (and through it the catalog, DML, streaming sink,
  * ANN index — every writer) stages a complete immutable version
  * directory, then drives exactly these five primitives under
  * [[withCommitLock]]:
  *
  *  1. [[readPointer]] — the OCC precondition read,
  *  2. [[versionExists]] — allocation probing past crash orphans,
  *  3. [[publishVersionDir]] — make the staged dir visible, all-or-nothing,
  *  4. [[flipPointer]] — move the live pointer, atomically replacing,
  *  5. [[withCommitLock]] — serialize committers of one table.
  *
  * [[LocalFsCommit]] binds them to POSIX renames + an advisory file
  * lock. An object-store binding maps 3 to a manifest upload and 4+5 to
  * the store's conditional PUT (ETag/generation precondition) on the
  * pointer object — the same compare-and-swap Delta/Iceberg commit
  * services perform; no caller changes. The staged data itself never
  * moves through the protocol: it is already at its final keys
  * (object stores don't rename); only visibility metadata does.
  */
trait CommitProtocol {

  /** The live version number, if the table has ever been published. */
  def readPointer(root: String): Option[Long]

  /** True iff version `v`'s directory exists under `root` (live OR
    * crash-orphaned — allocation must skip both).
    */
  def versionExists(root: String, v: Long): Boolean

  /** Make the fully-staged version dir visible at `dest`, atomically:
    * after this returns, `dest` holds the complete immutable version
    * stamped with its commit instant (the visibility time — TIMESTAMP AS
    * OF resolves by it, and a writer may have waited on the lock long
    * after its data was staged); on failure, `dest` must not exist
    * half-written.
    */
  def publishVersionDir(stage: Path, dest: Path): Unit

  /** Atomically point `root`'s live pointer at `v` (replacing any
    * previous pointer). Readers concurrently resolving see the old or
    * the new version, never an absent/partial pointer.
    */
  def flipPointer(root: String, v: Long): Unit

  /** Serialize commit critical sections for one table across processes.
    * Reentrancy is NOT required (and the local binding is not) — callers
    * never nest.
    */
  def withCommitLock[T](root: String)(body: => T): T
}

/** Local-filesystem commit binding: `_CURRENT` pointer file, POSIX
  * atomic renames, JVM mutex + cross-process advisory file lock.
  */
object LocalFsCommit extends CommitProtocol {

  private val Pointer = "_CURRENT"

  override def readPointer(root: String): Option[Long] = {
    val p = Paths.get(root, Pointer)
    def readOnce(): Option[String] =
      if (!Files.exists(p)) None
      else Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    // multi-table transaction indirection ([[Txn]]): the pointer names
    // BOTH versions plus the transaction's commit marker — the marker's
    // existence (one atomic file creation, shared by every table in the
    // transaction) decides which table version this resolves to. Readers
    // of every participant therefore flip together; a crash mid-cleanup
    // is harmless (the conditional form resolves correctly forever, and
    // the next plain flip normalizes it).
    @annotation.tailrec
    def resolve(content: Option[String]): Option[Long] = content match {
      case None => None
      case Some(c) if c.startsWith("txn ") =>
        val parts = c.split(" ", 4)
        val (marker, newV, oldV) = (parts(1), parts(2).toLong, parts(3).toLong)
        if (Files.exists(Paths.get(marker))) Some(newV)
        else {
          // marker absent: either genuinely pre-commit, OR cleanup
          // already flipped this pointer plain and THEN deleted the
          // marker between our content read and the existence check
          // (the TOCTOU that would mis-resolve oldV post-commit — and
          // across a transaction's tables break all-or-nothing). The
          // two states are distinguishable by RE-READING the pointer:
          // cleanup rewrites it plain before dropping the marker, and a
          // later transaction would park it with a DIFFERENT marker
          // path — so an UNCHANGED conditional read truly means
          // pre-commit, and a changed one carries the fresh truth.
          val again = readOnce()
          if (again == content) { if (oldV < 0) None else Some(oldV) }
          else resolve(again)
        }
      case Some(c) => Some(c.toLong)
    }
    resolve(readOnce())
  }

  /** Phase-2a write for [[Txn]]: park this table's pointer in the
    * conditional form (resolving to `oldV` until `marker` exists, `newV`
    * after). Atomic like every pointer write.
    */
  private[graft] def writeTxnPointer(root: String, marker: java.nio.file.Path,
      newV: Long, oldV: Option[Long]): Unit = {
    val tmp = Paths.get(root, s"$Pointer.tmp")
    Files.write(tmp, s"txn $marker $newV ${oldV.getOrElse(-1L)}".getBytes("UTF-8"))
    Files.move(tmp, Paths.get(root, Pointer),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  override def versionExists(root: String, v: Long): Boolean =
    Files.exists(Paths.get(Sinks.versionPath(root, v)))

  override def publishVersionDir(stage: Path, dest: Path): Unit = {
    Files.move(stage, dest, StandardCopyOption.ATOMIC_MOVE)
    // stamp the COMMIT instant: rename preserves the staging-write
    // mtime, which can predate the commit by however long this writer
    // waited on the lock — TIMESTAMP AS OF and time-based retention
    // resolve by this instant, so it must be the visibility time, not
    // the write time. The instant is recorded TWICE: a durable
    // `_COMMIT_TS` marker (survives backup/copy/restore of the table
    // tree, where mtimes are rewritten) and the dir mtime (the fallback
    // for pre-marker versions). A crash between the move and the marker
    // write leaves a committed dir resolving by mtime — same instant,
    // weaker durability, never wrong ordering.
    val now = System.currentTimeMillis()
    Files.write(dest.resolve(Sinks.CommitTsFile), now.toString.getBytes("UTF-8"))
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(now))
  }

  override def flipPointer(root: String, v: Long): Unit = {
    val tmp = Paths.get(root, s"$Pointer.tmp")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(root, Pointer),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // Per-root JVM locks (round-18): REENTRANT — a caller composing a
  // multi-step mutation under one lock scope (REPLACE TABLE's
  // props-swap + publish) can nest the committing call without
  // deadlocking or double-acquiring the file lock — and PER-TABLE,
  // so commits of unrelated tables no longer serialize on one global
  // monitor (the old `this.synchronized` held every table's committers
  // behind whichever commit was in flight). The cross-process file
  // lock is taken once per (thread, root) scope; sorted-root
  // multi-table acquisition ([[Txn]]'s lockAll) keeps its documented
  // deadlock-freedom unchanged. Entries are never evicted (one small
  // lock object per table root touched by this JVM) — evicting a held
  // entry would hand a second thread a fresh lock for the same root.
  // Keyed on the CANONICAL root (lockKey): two spellings of one table
  // (a symlink alias) must share one lock, or both would take the same
  // file lock from this JVM and one fails with
  // OverlappingFileLockException.
  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** `root` with every symlink resolved — through its deepest existing
    * ancestor while the root itself does not exist yet, so the key does
    * not change when the root is created.
    */
  private def lockKey(root: String): String = {
    val abs = Paths.get(root).toAbsolutePath.normalize
    @annotation.tailrec
    def existing(p: Path, rest: List[Path]): (Path, List[Path]) =
      if (Files.exists(p) || p.getParent == null) (p, rest)
      else existing(p.getParent, p.getFileName :: rest)
    val (base, rest) = existing(abs, Nil)
    try rest.foldLeft(base.toRealPath())(_ resolve _).toString
    catch { case _: java.io.IOException => abs.toString }
  }

  override def withCommitLock[T](root: String)(body: => T): T = {
    val key = lockKey(root)
    val l = jvmLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock)
    l.lock()
    try {
      if (l.getHoldCount > 1) body // already inside this root's scope
      else {
        val ch = java.nio.channels.FileChannel.open(Paths.get(root, "_LOCK"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try { val lock = ch.lock(); try body finally lock.release() }
        finally ch.close()
      }
    } finally l.unlock()
  }
}
