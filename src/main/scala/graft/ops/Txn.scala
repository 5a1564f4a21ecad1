package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.DataFrame

/** One table write inside a multi-table transaction: publish `df` as
  * `root`'s next version, expecting the table to still be at `expected`
  * (None = creating it). Full-publish semantics by default (the
  * [[Sinks.publishVersioned]] shape); with `linked = true` the write is
  * an O(delta) APPEND — new rows staged, the expected version's files
  * carried by hardlink, stats/bloom/colmap sidecars inherited, and
  * (with `emitFeed`) the insert feed emitted — the
  * [[Sinks.appendVersioned]] shape, so an incremental medallion hop
  * (bronze append + silver refresh) commits atomically without
  * rewriting either table.
  */
case class TxnWrite(root: String, df: DataFrame,
    expected: Option[Long], statsCols: Seq[String] = Nil,
    linked: Boolean = false, emitFeed: Boolean = false)

/** Multi-table TRANSACTIONS on the commit-protocol seam (round-9
  * verdict item 3): publish N tables so that readers observe either ALL
  * the new versions or NONE — the bronze→silver consistency story
  * (derived tables can never be seen against a base they weren't
  * computed from).
  *
  * Two-phase over the existing single-table primitives:
  *
  *  1. STAGE + PUBLISH (per table, under the ordered lock set): data is
  *     written to writer-private staging, OCC-checked against every
  *     table's expected version, and made visible as `v<N>` dirs —
  *     which are invisible to readers until the pointer moves, exactly
  *     like a crash-orphaned single-table commit.
  *  2. FLIP, atomically across tables: each pointer is parked in a
  *     CONDITIONAL form naming (marker, newV, oldV)
  *     ([[LocalFsCommit.writeTxnPointer]]); every reader resolves oldV
  *     while the marker is absent. Then ONE atomic file creation — the
  *     marker — commits the whole transaction: all tables flip together.
  *     Cleanup rewrites the pointers plain and drops the marker; a
  *     crash anywhere in cleanup is harmless (conditional pointers keep
  *     resolving the committed version, and any later plain flip
  *     normalizes them).
  *
  * Crash matrix: before the marker → every table still reads its old
  * version (the staged `v<N>` dirs are unreferenced orphans later
  * commits allocate past, same as today's crash window); after the
  * marker → every table reads its new version. There is no window in
  * which readers can observe a mixed state.
  *
  * Locks are acquired in sorted-root order (deadlock-free against any
  * other transaction using the same order; single-table commits take
  * one lock and cannot deadlock against a set). On an object store the
  * marker maps to a conditional PUT of one transaction object and the
  * conditional pointers to pointer-object bodies naming it — the same
  * manifest-indirection trick, no renames required.
  */
object Txn {

  /** Test seam: invoked with a step label at each commit move so crash
    * legs can kill the transaction at exact points. Labels: "staged",
    * "published", "conditional:<root>", "marker", "normalized:<root>".
    */
  private[graft] var failpoint: String => Unit = _ => ()

  def publishAll(writes: Seq[TxnWrite]): Map[String, Long] = {
    require(writes.nonEmpty, "empty transaction")
    require(writes.map(_.root).distinct.size == writes.size,
      "duplicate table roots in one transaction")
    // the conditional pointer encodes `txn <marker> <newV> <oldV>`
    // space-separated — a root (hence marker path) containing
    // whitespace would mis-parse on EVERY later read of the table;
    // refuse up front rather than corrupt the pointer
    writes.foreach(w => require(!w.root.exists(_.isWhitespace),
      s"transaction table root contains whitespace: '${w.root}' — " +
        "conditional pointers encode the marker path space-separated"))
    val ordered = writes.sortBy(_.root)
    // stage all data OUTSIDE the locks — the expensive part; locks are
    // held only for the metadata moves
    val staged = ordered.map { w =>
      Files.createDirectories(Paths.get(w.root))
      if (w.linked) {
        require(w.expected.isDefined,
          s"${w.root}: a linked append needs an existing base version")
        // same align-or-fail contract as a single-table append: a
        // TxnWrite whose column set/order drifts from the live schema
        // must fail loudly here, not commit a mixed-schema version
        // readers mis-infer from one arbitrary footer
        // untagged: the stage is never dropped
        Sinks.stageLinkedNoCommit(
          Sinks.alignToLive(w.df, w.root, w.expected), w.root, w.expected,
          w.statsCols, emitFeed = w.emitFeed, batchTag = None, carry = _ => true).get
      } else {
        val stage = Paths.get(
          s"${w.root}/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
        val pcols = TableProps.partitionCols(w.root)
        if (pcols.isEmpty) w.df.write.mode("overwrite").parquet(stage.toString)
        else w.df.write.mode("overwrite").partitionBy(pcols: _*).parquet(stage.toString)
        // an empty frame (or an empty partitioned result) can write no
        // footer-bearing part file, losing the table schema for every
        // later read — land a zero-row file with the frame's schema,
        // mirroring publishVersioned's fallback
        if (!Sinks.hasParquetFile(stage)) {
          val spark = w.df.sparkSession
          spark.createDataFrame(
              spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
              w.df.schema)
            .write.mode("overwrite").parquet(stage.toString)
        }
        if (w.statsCols.nonEmpty)
          Stats.annotate(w.df.sparkSession, stage.toString, w.statsCols)
        stage
      }
    }
    try {
      failpoint("staged")
      def lockAll[T](roots: Seq[String])(body: => T): T = roots match {
        case Seq() => body
        case r +: rest => Sinks.commitProtocol.withCommitLock(r)(lockAll(rest)(body))
      }
      lockAll(ordered.map(_.root)) {
        // OCC precondition on EVERY table before anything publishes —
        // one stale expectation aborts the whole transaction with
        // nothing visible
        val olds = ordered.map { w =>
          val cur = Sinks.commitProtocol.readPointer(w.root)
          if (cur != w.expected) throw new java.util.ConcurrentModificationException(
            s"${w.root} moved to ${cur.fold("absent")("v" + _)} while this " +
              s"transaction was basing on ${w.expected.fold("absent")("v" + _)}; " +
              "recompute and retry the whole transaction")
          cur
        }
        val news = ordered.zip(staged).map { case (w, stage) =>
          var next = Sinks.commitProtocol.readPointer(w.root).map(_ + 1).getOrElse(0L)
          while (Sinks.commitProtocol.versionExists(w.root, next)) next += 1
          Files.write(stage.resolve(Sinks.VersionBaseFile),
            w.expected.getOrElse(-1L).toString.getBytes("UTF-8"))
          val pspec = stage.resolve(Sinks.PartitionSpecFile)
          if (!Files.exists(pspec))
            Files.write(pspec,
              TableProps.load(w.root).getOrElse(TableProps.PartitionKey, "")
                .getBytes("UTF-8"))
          Sinks.stampOp(stage, "txn") // overrides a linked stage's tag
          Sinks.commitProtocol.publishVersionDir(
            stage, Paths.get(Sinks.versionPath(w.root, next)))
          next
        }
        failpoint("published")
        // the transaction marker lives in the first (sorted) root; its
        // CREATION is the single commit point. ABSOLUTE path: the
        // pointer stores it as written, and other processes (a reader
        // with a different cwd) must resolve the same file
        val marker = Paths.get(ordered.head.root,
          s"_txn-${java.util.UUID.randomUUID()}").toAbsolutePath
        ordered.lazyZip(olds).lazyZip(news).foreach { (w, old, nv) =>
          LocalFsCommit.writeTxnPointer(w.root, marker, nv, old)
          failpoint(s"conditional:${w.root}")
        }
        val tmp = Paths.get(marker.toString + ".tmp")
        Files.write(tmp, "committed".getBytes("UTF-8"))
        Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
        failpoint("marker")
        // COMMITTED. Cleanup below is best-effort-durable: conditional
        // pointers already resolve the new versions forever.
        ordered.zip(news).foreach { case (w, nv) =>
          Sinks.commitProtocol.flipPointer(w.root, nv)
          failpoint(s"normalized:${w.root}")
          try Sinks.reconcileFeedLocked(w.root)
          catch { case e: Exception =>
            System.err.println(s"[graft] feed reconcile after txn commit of " +
              s"${w.root} failed (links self-heal on the next commit): $e")
          }
        }
        Files.deleteIfExists(marker)
        ordered.map(_.root).zip(news).toMap
      }
    } catch {
      case e: Throwable =>
        // un-published staging debris only; published version dirs are
        // unreferenced orphans (allocation skips them) and a post-marker
        // throw IS a committed transaction with cleanup pending
        staged.foreach(s => try Fs.deleteRecursively(s) catch { case _: Exception => () })
        throw e
    }
  }
}
