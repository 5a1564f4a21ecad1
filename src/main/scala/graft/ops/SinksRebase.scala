package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Concurrent-writer auto-rebase: the recovery policies of a linked
  * commit whose OCC base advanced, and the provably-safe gate that
  * decides whether a lost race re-stages or surfaces the honest CME.
  *
  * One seam of [[Sinks]] (round-13 split of a 2.9k-line object:
  * pure member motion, zero behavior change — `Sinks.<member>`
  * call sites are untouched because the object mixes this in).
  */
private[graft] trait SinksRebase { this: Sinks.type =>

  // ---------- concurrent-writer auto-rebase (round-12) ----------
  //
  // OCC alone makes the LOSER of every commit race redo its work: two
  // independent blind appenders — the common multi-writer shape on a
  // shared corpus table — could never both succeed. Delta rebases the
  // provably-safe cases automatically; so does this tier. A linked
  // commit that loses the race re-stages against the table's NEW live
  // version and retries, iff the interleaved commits provably COMMUTE
  // with it (final state = a serial schedule): blind appends commute
  // with everything that keeps the table's write contract fixed, and a
  // merge-on-read DV commit commutes when the files its vector touches
  // are still live and untouched by any DV added since, and (round-13)
  // a snapshot-pinned COW rewrite commutes under the same file-granular
  // disjointness. Anything else (schema/constraint/layout changes,
  // quantizer swaps, overlapping file sets) keeps today's honest CME.

  /** Recovery contract of a linked commit whose base advanced. */
  private[graft] sealed trait RebasePolicy
  /** Never rebase — the commit read state a concurrent writer may have
    * changed; the caller must recompute (today's CME contract).
    */
  private[graft] case object NoRebase extends RebasePolicy
  /** A blind linked APPEND: serial-equivalent to running either side of
    * any commuting concurrent commit. `realign` re-checks the append
    * frame against the new base (the [[Sinks.alignToLive]] guard) so a
    * schema drift the gate missed still fails loudly.
    */
  private[graft] final case class AppendRebase(realign: Option[Long] => DataFrame)
      extends RebasePolicy
  /** A merge-on-read DV commit (DELETE/UPDATE/MERGE): rebase-safe iff
    * `touched()` — the version-relative file keys its vector references
    * — are all still live in the new current AND disjoint from every DV
    * part added since (file-granular disjointness, the Delta rule).
    */
  private[graft] final case class MorRebase(touched: () => Set[String])
      extends RebasePolicy
  /** A copy-on-write DML commit (round-13): rebase-safe under the SAME
    * file-granular disjointness gate as [[MorRebase]] — every touched
    * file still live in the new current and untouched by any DV added
    * since. Sound because every COW rewrite is snapshot-pinned (the
    * touched-file scan reads explicit immutable paths of the base
    * version; MERGE checkpoints its source), so the rebased commit's
    * state equals the serial schedule [this COW at its base, then the
    * interleaved commits]: the carry set (new current minus touched)
    * IS old-files-minus-touched plus everything the interleaved
    * commits added. An interleaved commit that rewrote, vacuumed, or
    * DV'd a touched file fails the subset/disjointness check and keeps
    * the honest CME.
    */
  private[graft] final case class CowRebase(touched: Set[String])
      extends RebasePolicy

  /** Bound on CME→re-stage rounds. Each retry costs O(delta) bytes +
    * O(live files) hardlinks — metadata-scale — so the bound is
    * generous (N writers racing one table resolve in ≤ N rounds for
    * the last loser; Delta's analogous commit-attempt bound is in the
    * millions). It exists only to turn a pathological livelock into a
    * loud CME instead of an unbounded spin.
    */
  private[graft] val MaxRebaseAttempts = 100

  /** Process-lifetime count of commit-race rebase retries (every
    * re-stage after a lost OCC race, across all tables) — observability
    * for multi-writer deployments: a climbing rate on one table says
    * its writers contend enough to consider coarser batching. The
    * stress harness reports it per run.
    */
  val rebaseRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** Table properties whose concurrent movement does NOT invalidate a
    * rebase: streaming high-water marks, COPY INTO receipts and identity
    * high-water marks are the bookkeeping OF concurrent appends —
    * exactly the traffic rebase exists for (identity ranges are
    * reserved disjointly under the props lock, so staged values stay
    * unique in any commit order). Everything else (CHECK constraints
    * `check.*`, the partition spec, identity specs, index parameters) is
    * part of the write contract the staged delta was validated under:
    * if it moved, refuse.
    */
  private def semanticProps(p: Map[String, String]): Map[String, String] =
    p.filterNot { case (k, _) =>
      k.startsWith("graft.stream.lastBatch.") || k.startsWith("graft.copyin.") ||
        k.startsWith(Identity.HwmPrefix)
    }

  private def relParquetKeys(dir: Path): Set[String] =
    Fs.walkParquet(dir).map(f => dir.relativize(f).toString).toSet

  /** True iff version dirs `a` and `b` hold the SAME files (names +
    * filesystem identity — carried hardlinks share inodes) under
    * sidecar `name`, or both lack it. A scheme sidecar (ANN quantizer,
    * PQ codebooks) that changed between the rebase endpoints means the
    * staged rows were derived under a scheme the table no longer has.
    */
  private def sameSidecar(a: Path, b: Path, name: String): Boolean = {
    def inventory(d: Path): Option[Set[(String, Any)]] = {
      val sc = d.resolve(name)
      if (!Files.isDirectory(sc)) None
      else Some(Fs.listDir(sc).filter(_.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val key = Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
          (f.getFileName.toString, if (key != null) key else Files.size(f))
        }.toSet)
    }
    inventory(a) == inventory(b)
  }

  /** DV part filenames under a version dir (empty when no vector). */
  private def dvPartNames(dir: Path): Set[String] = {
    val sc = dir.resolve(Dv.Sidecar)
    if (!Files.isDirectory(sc)) Set.empty
    else Fs.listDir(sc).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** The provably-safe gate: may a commit staged against `expected` be
    * re-staged against `newCur` under `policy`? Refuses (false → the
    * caller rethrows the CME) whenever it cannot PROVE commutativity.
    */
  private[ops] def rebaseSafe(spark: SparkSession, root: String,
      expected: Option[Long], newCur: Option[Long], policy: RebasePolicy,
      propsAtStage: Map[String, String]): Boolean = policy match {
    case NoRebase => false
    case _ => (expected, newCur) match {
      case (Some(oldV), Some(newV)) if newV != oldV =>
        val oldDir = Paths.get(versionPath(root, oldV))
        val newDir = Paths.get(versionPath(root, newV))
        if (!Files.isDirectory(oldDir) || !Files.isDirectory(newDir)) false
        // the write contract must not have moved: constraints, partition
        // spec (table-level AND version-local), column mapping, scheme
        // sidecars. Each is a metadata-scale comparison.
        else if (semanticProps(propsAtStage) != semanticProps(TableProps.load(root))) false
        else if (partitionSchemaFor(root, oldDir.toString).map(_.toDDL) !=
                 partitionSchemaFor(root, newDir.toString).map(_.toDDL)) false
        else if (!(ColMap.load(oldDir.toString) == ColMap.load(newDir.toString) &&
                   ColMap.dropped(oldDir.toString) == ColMap.dropped(newDir.toString) &&
                   ColMap.added(oldDir.toString) == ColMap.added(newDir.toString))) false
        else if (!Seq(AnnIndex.CentroidsSidecar, Pq.Sidecar)
                   .forall(sameSidecar(oldDir, newDir, _))) false
        // logical read schema unchanged (names + types; a concurrent
        // widening retype rewrote the footers under types our staged
        // files do not carry)
        else if (snapshotRead(spark, root, oldDir.toString).schema
                   .map(f => (f.name, f.dataType.simpleString)) !=
                 snapshotRead(spark, root, newDir.toString).schema
                   .map(f => (f.name, f.dataType.simpleString))) false
        else policy match {
          case MorRebase(_) | CowRebase(_) =>
            val touched = policy match {
              case MorRebase(thunk) => thunk()
              case CowRebase(t) => t
              case _ => Set.empty[String]
            }
            // every file our vector references must still be live …
            touched.subsetOf(relParquetKeys(newDir)) && {
              // … and untouched by any DV part added since (a folded
              // checkpoint part shows up as "added" and conservatively
              // refuses — the safe direction)
              val addedParts = dvPartNames(newDir) -- dvPartNames(oldDir)
              addedParts.isEmpty || {
                val keys = spark.read.parquet(
                    addedParts.toSeq.map(p => newDir.resolve(Dv.Sidecar).resolve(p).toString): _*)
                  .select("file").distinct().collect().map(_.getString(0)).toSet
                keys.intersect(touched).isEmpty
              }
            }
          case _ => true
        }
      case _ => false // creation races and drops don't rebase
    }
  }
}
