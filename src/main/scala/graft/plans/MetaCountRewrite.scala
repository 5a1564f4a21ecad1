package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}

import graft.ops.{ColMap, FileColStat, SidecarRows, Stats}
import graft.ops.Stats.{AllRows, Conj, NoRows, SomeRows, Verdict}

/** Metadata-only `count(*)` / `count(col)` over Graft catalog tables —
  * the Delta "answer counts from the transaction log" optimization,
  * expressed against this layout's `_stats` sidecar.
  *
  * A global, unfiltered `SELECT count(*) FROM cat.tbl` normally plans a
  * full table scan whose only output is row counts Spark already wrote
  * down at commit time: every footer-stats sidecar row carries the
  * file's row count ([[graft.ops.Stats]]), and appends/COW DML extend
  * the sidecar inside the same atomic commit. At 100 TB the difference
  * is a driver-side metadata read (KBs — one small parquet beside the
  * data) versus scanning every file just to count it.
  *
  * Fires ONLY when provably exact:
  *  - global aggregate, no grouping, no `Filter` below (the relation may
  *    sit under attribute-only `Project`s — column pruning's leftovers);
  *  - every aggregate expression is a non-distinct, unfiltered
  *    `count(*)`/`count(lit)` (non-null literal) or `count(col)`;
  *  - the relation is a Graft snapshot ([[graft.catalog.GraftSnapshotDir]]
  *    — current reads AND `VERSION/TIMESTAMP AS OF`, both immutable
  *    version dirs, so there is no read-vs-metadata race);
  *  - the sidecar covers EVERY live data file (stale rows keyed by
  *    COW-replaced files are ignored — same contract as pruning;
  *    an uncovered file → the rule declines and the scan runs);
  *  - for `count(col)`: the file's entry for that column has usable
  *    footer stats (`has_stats` — null counts are only trusted when the
  *    writer recorded them), else decline.
  *
  * Declining is always safe: the plan is left for the ordinary scan.
  */
object MetaCountRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private sealed trait Kind
  private case object Star extends Kind
  private final case class OfColumn(name: String) extends Kind
  private final case class BoundOf(name: String, dt: DataType, isMin: Boolean)
    extends Kind
  // round-14 `sum_l` serves: `sum(col)` over the integer family (the
  // scan's result domain is LongType; the per-file sums are data-exact
  // and combine with overflow-checked addition — an overflowing total
  // declines to the scan, which then wraps or errors per its own eval
  // mode), and `avg(col)` when double accumulation is provably lossless
  // (see [[Answering.avgOver]]'s gates)
  private final case class SumOf(name: String) extends Kind
  private final case class AvgOf(name: String) extends Kind
  // count(DISTINCT <identity partition column>) — the "how many
  // segments" probe, answered from directory arithmetic alone
  private final case class DistinctPart(name: String) extends Kind

  /** Which answering domains this sidecar's schema era carries (absent
    * columns must decline, never read as "all-null data").
    */
  private[graft] final case class SideFlags(hasTs: Boolean, hasS: Boolean,
    hasSum: Boolean)

  private def intFamily(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      rewrite(agg).orElse(rewriteFiltered(agg)).getOrElse(agg)
    case agg: Aggregate => rewriteGrouped(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    for {
      relT <- relationOf(agg.child)
      kinds <- every(agg.aggregateExpressions)(kindOf)
      if kinds.nonEmpty
      values <- metaValues(relT._2.snapshotVersionDir, kinds,
        relT._2.snapshotTableRoot)
    } yield LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values)))

  /** `f` of every element, or None when `f` declines any. */
  private def every[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val ys = xs.map(f)
    if (ys.forall(_.isDefined)) Some(ys.flatten) else None
  }

  /** The snapshot RELATION under attribute-only projections (the
    * filtered path needs its output attributes and table handle, not
    * just the dir).
    */
  private def relationOf(p: LogicalPlan)
      : Option[(DataSourceV2Relation, graft.catalog.GraftSnapshotDir)] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: graft.catalog.GraftSnapshotDir => Some((r, t))
      case _ => None
    }
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(pr.child)
    case _ => None
  }

  /** Live data files of `dir`, as version-dir-relative sidecar keys. */
  private def liveFiles(dir: String): Set[String] =
    graft.io.Fs.walkParquet(Paths.get(dir))
      .map(_.toString.stripPrefix(dir).stripPrefix("/")).toSet

  /** Files carrying deletion-vector entries: their sidecar row counts
    * are pre-delete, so they must be SCANNED (a NONE verdict stays NONE —
    * a delete only removes rows).
    */
  private def dvFilesOf(spark: SparkSession, dir: String): Set[String] =
    if (!graft.ops.Dv.exists(dir)) Set.empty
    else graft.ops.Dv.bitmapEntries(spark, dir).map(_._1).toSet

  // ------------- filtered counts (round-14, verdict item 3) -------------
  //
  // `count(*) WHERE <pred>` normally scans every surviving file just to
  // count rows metadata already pins down. The Delta metadata+boundary
  // trick: classify each live file against the predicate —
  //   NONE     every row provably fails   → contributes 0, never opened
  //   ALL      every row provably passes  → contributes its sidecar row
  //                                         count, never opened
  //   BOUNDARY anything unprovable        → scanned with the exact
  //                                         predicate
  // and rewrite the aggregate to `count(*) + <interior>` over a scan of
  // ONLY the boundary files (count(col) rides too: an ALL file's
  // matching rows are ALL its rows, so its contribution is the sidecar's
  // rows − nulls(col); files without a trusted entry demote to the
  // boundary). Classification sources:
  //   - identity PARTITION columns: the directory value is every row's
  //     value, so a file is ALL or NONE outright (pure directory
  //     arithmetic — a partition-only predicate never opens a file);
  //   - sidecar-covered columns: [[Stats.verdict]], the classifier
  //     StatsSkipRule's keep-set uses too ([min,max]⊆bound with zero
  //     nulls → ALL, no overlap or all-null → NONE).
  // Strictness is honored exactly (c > 5 is NOT c >= 5 — an interior
  // file whose min is the open endpoint must not count). Files with
  // deletion-vector entries are forced BOUNDARY so the scan-side
  // subtraction applies. Declines (unanalyzable conjunct, no metadata
  // win) leave the plan for StatsSkipRule's keep-set swap.

  /** Every top-level conjunct of `cond` ([[Stats.conjOf]]), or None when
    * any is outside the classifiable fragment.
    */
  private def conjsOf(cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Seq[Conj]] =
    every(splitConjunctivePredicates(cond))(Stats.conjOf)

  /** Identity-partition value of `file` (a version-dir-relative key)
    * for partition column `colName`, decoded as Spark's partition
    * discovery decodes it and typed per the version's declared
    * partition spec. Returns None when the value is not derivable
    * (unpartitioned layout, mixed-layout leg, transform column,
    * unparseable value); Some(None) is a NULL partition
    * (`__HIVE_DEFAULT_PARTITION__`).
    */
  private def partitionValue(file: String, colName: String,
      partSchema: StructType): Option[Option[Any]] = {
    val field = partSchema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(return None)
    val seg = file.split('/').dropRight(1).collectFirst {
      case s if s.contains('=') &&
          s.substring(0, s.indexOf('=')).equalsIgnoreCase(colName) =>
        s.substring(s.indexOf('=') + 1)
    }.getOrElse(return None)
    val raw = ExternalCatalogUtils.unescapePathName(seg)
    if (raw == "__HIVE_DEFAULT_PARTITION__") return Some(None)
    field.dataType match {
      case StringType => Some(Some(raw))
      case ByteType | ShortType | IntegerType | LongType =>
        raw.toLongOption.map(v => Some(v))
      case DateType =>
        try Some(Some(java.time.LocalDate.parse(raw).toEpochDay.toInt))
        catch { case _: Exception => None }
      case _ => None // other partition types: boundary-scan the file
    }
  }

  /** The filtered metadata count: see the block comment above. */
  private def rewriteFiltered(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Coalesce, Expression, Greatest, Least}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val f = stripProjects(agg.child) match {
      case flt: Filter => flt
      case _ => return None
    }
    val (rel, t) = relationOf(f.child).getOrElse(return None)
    val dir = t.snapshotVersionDir
    // every aggregate expression must be one the filtered forms can
    // serve: in an ALL-classified file EVERY row satisfies the
    // predicate, so count(col) over its matching rows is exactly
    // rows − nulls(col), min/max over them are the file's own
    // (value-exact) bounds and sum is its data-exact per-file sum;
    // avg serves only when the whole answer is metadata (no boundary —
    // an Average cannot be combined externally). Files without the
    // needed trusted/exact entry demote to the boundary scan below.
    val kinds = every(agg.aggregateExpressions)(kindOf)
      .filterNot(_.exists(_.isInstanceOf[DistinctPart])).getOrElse(return None)
    if (kinds.isEmpty) return None
    val conjs = conjsOf(f.condition).getOrElse(return None)
    if (conjs.isEmpty) return None
    if (!Files.isDirectory(Paths.get(dir, Stats.Sidecar))) return None
    // equality deletes hide rows by KEY across files — no per-file
    // arithmetic recovers the hidden count; decline (round-14)
    if (graft.ops.EqDel.exists(dir)) return None
    val spark = SparkSession.active
    val live = liveFiles(dir)
    if (live.isEmpty) return None
    val a = new Answering(dir)
    // row counts must cover every live file or interior sums are unprovable
    if (!a.covers(live)) return None
    val partSchema = graft.ops.Sinks.partitionSchemaFor(t.snapshotTableRoot, dir)
    val utc = Stats.sessionUtc(spark)
    val dvFiles = dvFilesOf(spark, dir)
    val classes = live.toSeq.map(fl => fl -> a.classify(fl, conjs, partSchema, utc))
    // an ALL file that is not answering-grade for every kind cannot
    // contribute from metadata and demotes to the boundary scan instead
    // of declining the whole rewrite
    def served(fl: String): Boolean = !dvFiles(fl) && kinds.forall(a.exact(fl, _))
    val interiorFiles = classes.collect { case (fl, AllRows) if served(fl) => fl }
    val boundary = classes.collect {
      case (fl, SomeRows) => fl
      case (fl, AllRows) if !served(fl) => fl
    }.sorted
    // no metadata win: nothing provably ALL and nothing provably NONE →
    // leave the plan for StatsSkipRule's keep-set swap
    if (interiorFiles.isEmpty && boundary.size == live.size) return None
    if (boundary.isEmpty) {
      // pure metadata answer (partition-only predicates land here: every
      // file is ALL or NONE by directory arithmetic alone)
      val values = every(kinds)(a.partial(_, interiorFiles)).getOrElse(return None)
      return Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
        Seq(InternalRow.fromSeq(values))))
    }
    // an Average cannot be combined with a boundary scan's partial (its
    // sum/count internals are not exposed to the rewrite) — decline the
    // hybrid; StatsSkipRule still prunes the fallback scan
    if (kinds.exists(_.isInstanceOf[AvgOf])) return None
    // hybrid: scan ONLY the boundary files under the exact predicate and
    // add the interior constant inside the aggregate
    val analyzed = graft.ops.Sinks.snapshotRead(spark, t.snapshotTableRoot, dir,
      Some(boundary.map(k => s"$dir/$k"))).queryExecution.analyzed
    val out = DvReadRule.realias(rel.output, analyzed).getOrElse(return None)
    val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.zip(kinds).map {
      case (al @ Alias(ae: AggregateExpression, name), k) =>
        // a NULL interior (all-null bound or sum) adds nothing; a real
        // one must survive an empty/all-null boundary — Least/Greatest
        // skip nulls, and the boundary sum coalesces to 0 before the Add
        val part = a.partial(k, interiorFiles).getOrElse(return None)
        val combined: Expression = k match {
          case _ if part == null => ae
          case BoundOf(_, dt, isMin) =>
            if (isMin) Least(Seq(ae, Literal(part, dt)))
            else Greatest(Seq(ae, Literal(part, dt)))
          case _: SumOf =>
            Add(Coalesce(Seq(ae, Literal(0L, LongType))), Literal(part, LongType))
          case _ => Add(ae, Literal(part, LongType))
        }
        Alias(combined, name)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None // unreachable (kinds gate)
    }
    Some(Aggregate(Nil, newAggs,
      Filter(f.condition, Project(out, analyzed))))
  }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(pr.child)
    case other => other
  }

  /** Typed internal Catalyst value of a parsed partition value (which
    * [[partitionValue]] yields as String / Long / Int-days).
    */
  private def internalOf(dt: DataType, v: Any): Any = dt match {
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
    case ByteType => v.asInstanceOf[Long].toByte
    case ShortType => v.asInstanceOf[Long].toShort
    case IntegerType => v.asInstanceOf[Long].toInt
    case LongType => v.asInstanceOf[Long]
    case _ => v // DateType: already Int days
  }

  /** Grouped metadata aggregates (round-14): `GROUP BY <identity
    * partition column(s)>` with count(*)/count(col) — and, under the
    * same per-file trust rules as the global paths, min/max/sum/avg —
    * the "partitions overview" probe (`SELECT dt, count(*), sum(qty) …
    * GROUP BY dt`) answered from directory arithmetic + sidecar rows,
    * ZERO files opened.
    * An optional WHERE classifies per file exactly like the global
    * filtered path; BOUNDARY files scan per group (the hybrid below).
    * Groups whose files all classify NONE vanish, exactly like the
    * scan's GROUP BY; zero-row schema anchors contribute nothing and
    * never fabricate a group. Eq-delete versions decline (hidden rows
    * are per-key, not per-directory).
    */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val groupAttrs: Seq[AttributeReference] = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val (cond, relPlan) = stripProjects(agg.child) match {
      case f: Filter => (Some(f.condition), f.child)
      case other => (None, other)
    }
    val (rel, t) = relationOf(relPlan).getOrElse(return None)
    val dir = t.snapshotVersionDir
    def groupIndex(a: AttributeReference): Option[Int] =
      Some(groupAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
    // outputs: grouping attributes (bare or re-aliased) or aggregates;
    // per-group min/max/sum/avg ride the same per-file trust rules as
    // the global paths
    val outKinds: Seq[Either[Int, Kind]] = agg.aggregateExpressions.map {
      case a: AttributeReference => Left(groupIndex(a).getOrElse(return None))
      case Alias(a: AttributeReference, _) => Left(groupIndex(a).getOrElse(return None))
      case ne => kindOf(ne) match {
        case Some(_: DistinctPart) | None => return None
        case Some(k) => Right(k)
      }
    }
    // a bare SELECT DISTINCT <partition cols> answers too — it is SHOW
    // PARTITIONS: the distinct directory values among files holding at
    // least one (classified-in) row, zero files opened
    if (!Files.isDirectory(Paths.get(dir, Stats.Sidecar))) return None
    // eq-deletes hide rows by KEY across files — no per-file
    // arithmetic recovers them; decline. Deletion-vector files, by
    // contrast, hide known positions per FILE: they demote to the
    // boundary scan below (round-14 hybrid), clean files stay metadata.
    if (graft.ops.EqDel.exists(dir)) return None
    val partSchema = graft.ops.Sinks
      .partitionSchemaFor(t.snapshotTableRoot, dir).getOrElse(return None)
    // every grouping column must be an IDENTITY partition column (a
    // transform's source values are not recoverable from directories)
    groupAttrs.foreach { a =>
      val phys = ColMap.toPhysicalName(dir, a.name)
      val ok = partSchema.fields.exists(f => f.name.equalsIgnoreCase(phys) &&
        graft.ops.Transforms.parse(f.name).isEmpty)
      if (!ok) return None
    }
    val conjs = cond.fold(Option(Seq.empty[Conj]))(conjsOf).getOrElse(return None)
    val spark = SparkSession.active
    val live = liveFiles(dir)
    if (live.isEmpty) return None
    val a = new Answering(dir)
    if (!a.covers(live)) return None
    val utc = Stats.sessionUtc(spark)
    // duplicate group outputs (SELECT cat, cat AS c2 …) would duplicate
    // exprIds through the hybrid's inner aggregate — decline, rare shape
    val leftIdx = outKinds.collect { case Left(i) => i }
    if (leftIdx.distinct.size != leftIdx.size) return None
    // classify every live data file. An AllRows file that is not
    // answering-grade for every kind — or whose partition tuple cannot
    // be decoded (a mixed-layout leg) — DEMOTES to the boundary scan
    // (round-14 hybrid) instead of declining the whole rewrite.
    def fileServed(fl: String): Boolean = outKinds.forall {
      case Right(k) => a.exact(fl, k)
      case Left(_) => true
    }
    def tupleOf(fl: String): Option[Seq[Any]] =
      every(groupAttrs) { ga =>
        partitionValue(fl, ColMap.toPhysicalName(dir, ga.name), partSchema)
          .map(opt => opt.map(internalOf(ga.dataType, _)).orNull)
      }
    val dvFiles = dvFilesOf(spark, dir)
    val interior = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], String)]
    val boundaryB = scala.collection.mutable.ArrayBuffer.empty[String]
    live.toSeq.sorted
      .filter(fl => a.rowsOf(fl) > 0) // schema anchors: no rows
      .foreach { fl =>
        val cls =
          if (conjs.isEmpty) AllRows
          else a.classify(fl, conjs, Some(partSchema), utc)
        cls match {
          case NoRows => ()
          case SomeRows => boundaryB += fl
          case AllRows =>
            if (dvFiles(fl) || !fileServed(fl)) boundaryB += fl
            else tupleOf(fl) match {
              case Some(tp) => interior += ((tp, fl))
              case None => boundaryB += fl
            }
        }
      }
    val grouped: Map[Seq[Any], Seq[String]] =
      interior.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // one row per interior group: its values and each aggregate's
    // interior PARTIAL — the same shape the boundary scan's partial
    // aggregate emits, so the two merge in one outer aggregate
    val groupRows: Seq[InternalRow] = every(grouped.toSeq) { case (gvals, files) =>
      every(outKinds) {
        case Left(i) => Some(gvals(i))
        case Right(k) => a.partial(k, files)
      }.map(InternalRow.fromSeq)
    }.getOrElse(return None)
    if (boundaryB.isEmpty) {
      // pure metadata answer: every file is ALL or NONE
      return Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute), groupRows))
    }
    // ---- grouped HYBRID (round-14): boundary files scan and partially
    // aggregate under the exact predicate; interior groups inject their
    // metadata partials as a LocalRelation leg of a Union; one outer
    // aggregate merges (Sum of count/sum partials, Min/Max of bound
    // partials). Interior-only groups survive via the union even when
    // the scan emits nothing for them — the shape a scan-side constant
    // injection could not express. avg cannot merge: decline.
    if (outKinds.exists {
      case Right(_: AvgOf) => true
      case _ => false
    }) return None
    // nothing provably interior: plain pruning already serves this best
    if (grouped.isEmpty) return None
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val analyzed = graft.ops.Sinks.snapshotRead(spark, t.snapshotTableRoot, dir,
      Some(boundaryB.toSeq.sorted.map(k => s"$dir/$k"))).queryExecution.analyzed
    val out = DvReadRule.realias(rel.output, analyzed).getOrElse(return None)
    val scanChild: LogicalPlan = cond match {
      case Some(c) => Filter(c, Project(out, analyzed))
      case None => Project(out, analyzed)
    }
    def findAttr(n: String): Option[Attribute] =
      rel.output.find(_.name.equalsIgnoreCase(n))
    val innerOut: Seq[NamedExpression] = outKinds.map {
      case Left(i) => groupAttrs(i)
      case Right(k) =>
        val fn: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction = k match {
          case Star => Count(Seq(Literal(1)))
          case OfColumn(n) => Count(Seq(findAttr(n).getOrElse(return None)))
          case SumOf(n) => Sum(findAttr(n).getOrElse(return None))
          case BoundOf(n, _, isMin) =>
            val a = findAttr(n).getOrElse(return None)
            if (isMin) Min(a) else Max(a)
          case _ => return None
        }
        Alias(fn.toAggregateExpression(), "_gf_partial")()
    }
    val innerAgg = Aggregate(groupAttrs, innerOut, scanChild)
    val localAttrs: Seq[Attribute] = innerOut.map(ne =>
      AttributeReference(ne.name, ne.dataType, nullable = true)())
    val union = Union(Seq(innerAgg, LocalRelation(localAttrs, groupRows)))
    val unionOut = union.output
    val finalGrouping: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      outKinds.zipWithIndex.collect { case (Left(_), pos) => unionOut(pos) }
    val finalAggs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(outKinds).zipWithIndex.map {
        case ((orig, Left(_)), pos) => orig match {
          case a: AttributeReference if unionOut(pos).exprId == a.exprId =>
            unionOut(pos)
          case a: AttributeReference =>
            Alias(unionOut(pos), a.name)(exprId = a.exprId,
              qualifier = a.qualifier)
          case al @ Alias(_, name) =>
            Alias(unionOut(pos), name)(exprId = al.exprId,
              qualifier = al.qualifier)
          case _ => return None
        }
        case ((al @ Alias(_, name), Right(k)), pos) =>
          val merged: org.apache.spark.sql.catalyst.expressions.Expression =
            k match {
              case BoundOf(_, _, isMin) =>
                val af = if (isMin) Min(unionOut(pos)) else Max(unionOut(pos))
                af.toAggregateExpression()
              case _ =>
                // count/sum partials merge by Sum; counts pin non-null
                val s = Sum(unionOut(pos)).toAggregateExpression()
                k match {
                  case Star | _: OfColumn =>
                    org.apache.spark.sql.catalyst.expressions.Coalesce(
                      Seq(s, Literal(0L, LongType)))
                  case _ => s
                }
            }
          Alias(merged, name)(exprId = al.exprId, qualifier = al.qualifier)
        case _ => return None
      }
    Some(Aggregate(finalGrouping, finalAggs, union))
  }

  /** min/max are metadata-answerable only for types whose footer bounds
    * are EXACT: integral and IEEE-float physical values (dates ride as
    * int32 days), and — round-13 — timestamps whose sidecar rows carry
    * value-exact micros (`t_exact`: ms/µs units; ns floor/ceil is
    * widened-only and declines per file). `SELECT max(ts) FROM events`
    * is THE freshness probe on a 100 TB event table — a KB metadata
    * read instead of a full scan. Strings (round-14) answer only from
    * `s_exact` rows — bounds the annotator computed from the DATA at
    * commit time; footer binaries may be truncated (fine for pruning,
    * wrong as an answer) and decline per-row. NaN-poisoned float files
    * already carry `has_stats = false` and decline per-file.
    */
  private def boundable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => true
    case DateType => true
    case TimestampType | TimestampNTZType => true
    case StringType => true
    case _ => false
  }

  /** The one aggregate-kind parser of every path. */
  private def kindOf(ne: NamedExpression): Option[Kind] = ne match {
    // count(DISTINCT col): only ever answerable for identity PARTITION
    // columns (the directory value is every row's value, so the
    // distinct set is the set of value-bearing directories) — the
    // partition-column check happens in metaValues where the dir is
    // known; any other distinct declines there, and the filtered and
    // grouped paths decline it outright
    case Alias(ae: AggregateExpression, _)
        if ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(a: AttributeReference)) => Some(DistinctPart(a.name))
        case _ => None
      }
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null => Some(Star)
        case Count(Seq(a: AttributeReference)) => Some(OfColumn(a.name))
        case Min(a: AttributeReference) if boundable(a.dataType) =>
          Some(BoundOf(a.name, a.dataType, isMin = true))
        case Max(a: AttributeReference) if boundable(a.dataType) =>
          Some(BoundOf(a.name, a.dataType, isMin = false))
        // round-14 sums: any eval mode serves — the metadata answer is
        // only produced when NO overflow occurs anywhere, where legacy,
        // ANSI, and TRY sums all agree
        case Sum(a: AttributeReference, _) if intFamily(a.dataType) =>
          Some(SumOf(a.name))
        case Average(a: AttributeReference, _) if intFamily(a.dataType) =>
          Some(AvgOf(a.name))
        case _ => None
      }
    case _ => None
  }

  /** One version dir's `_stats` rows as the metadata answers read them
    * ([[graft.ops.Stats.sidecarRows]]), with the [[SideFlags]] that
    * gate the DECLINE decision — an era-padded column must never read
    * as "all-null data", only as "this sidecar cannot answer" — and the
    * per-kind trust rules and answers the unfiltered, filtered and
    * grouped paths share. A file must pass [[exact]] for a kind before
    * [[partial]] reads its entry.
    */
  private final class Answering(dir: String) {
    private val side: SidecarRows = Stats.sidecarRows(SparkSession.active, dir)
    private val flags = SideFlags(
      hasTs = side.columns("lo_t") && side.columns("t_exact"),
      hasS = side.columns("s_exact"), hasSum = side.columns("sum_l"))

    /** Every file in `live` has a sidecar row count. */
    def covers(live: Set[String]): Boolean = live.forall(side.byFile.contains)

    def rowsOf(fl: String): Long = side.byFile(fl).head.rows

    private def phys(n: String): String = ColMap.toPhysicalName(dir, n).toLowerCase
    private def entry(fl: String, n: String): Option[FileColStat] =
      side.byFileCol.get((fl, phys(n)))
    private def at(fl: String, n: String): FileColStat = side.byFileCol((fl, phys(n)))
    private def allNull(r: FileColStat): Boolean = r.has_stats && r.nulls == r.rows

    /** File `fl` against every conjunct: NONE if any is NONE, ALL if
      * all are ALL. An identity partition column's directory value IS
      * every row's value — exact, null-aware, never widened; any other
      * column goes through [[Stats.verdict]].
      */
    def classify(fl: String, conjs: Seq[Conj], partSchema: Option[StructType],
        utc: Boolean): Verdict = {
      val per = conjs.map { cj =>
        val p = ColMap.toPhysicalName(dir, cj.colName)
        partSchema.flatMap(partitionValue(fl, p, _)) match {
          case Some(None) => NoRows // NULL partition never matches
          case Some(Some(v)) => Stats.pointVerdict(cj, v)
          case None => side.byFileCol.get((fl, p.toLowerCase))
            .fold[Verdict](SomeRows)(Stats.verdict(_, cj, utc))
        }
      }
      if (per.contains(NoRows)) NoRows
      else if (per.forall(_ == AllRows)) AllRows
      else SomeRows
    }

    /** Whether file `fl`'s entry is answering-grade for `k` — the
      * per-domain trust rules: trusted null counts, value-exact bounds,
      * recorded sums, verified all-null.
      */
    def exact(fl: String, k: Kind): Boolean = k match {
      case OfColumn(n) => entry(fl, n).exists(_.has_stats)
      case BoundOf(n, dt, _) => entry(fl, n).exists { r =>
        r.has_stats && (dt match {
          case ByteType | ShortType | IntegerType | LongType | DateType =>
            r.dec_scale.isEmpty // decimal-backed ints are unscaled: demote
          case FloatType | DoubleType => true // NaN files are has_stats=false
          // every value-bearing row must be VALUE-exact micros of the
          // right flavor (adjusted for TIMESTAMP, wall-clock for NTZ); a
          // ns-floored row is pruning-grade, not answering-grade
          case TimestampType | TimestampNTZType =>
            flags.hasTs && (r.lo_t.isEmpty || // all-null: contributes nothing
              (r.t_exact.contains(true) && r.t_adj.contains(dt == TimestampType)))
          // footer binary bounds may be truncated: only `s_exact` rows
          case StringType => flags.hasS && (r.lo_s.isEmpty || r.s_exact.contains(true))
          case _ => false
        })
      }
      // an ALL file contributes its data-exact sum — qualify when the
      // sum is recorded, the file is verified all-null, or it is empty
      case SumOf(n) =>
        flags.hasSum && entry(fl, n).exists(r =>
          r.rows == 0L || r.sum_l.isDefined || allNull(r))
      // avg additionally needs the sign-gate bounds on value-bearing
      // files ([[avgOver]]); pure-sign/magnitude failures surface there
      case AvgOf(n) =>
        flags.hasSum && entry(fl, n).exists(r => r.rows == 0L ||
          (r.sum_l.isDefined && r.has_stats && r.lo_l.isDefined && r.dec_scale.isEmpty) ||
          allNull(r))
      case _ => true
    }

    /** The answer of `k` over `files` as an internal Catalyst value — a
      * count, or a bound/sum/avg that is SQL NULL when no file holds a
      * value — or None to decline. Also a group's interior PARTIAL in
      * the grouped hybrid: counts and sums merge by Sum, bounds by
      * Min/Max.
      */
    def partial(k: Kind, files: Seq[String]): Option[Any] = k match {
      case Star => Some(files.map(rowsOf).sum)
      case OfColumn(n) => Some(files.map { fl => val r = at(fl, n); r.rows - r.nulls }.sum)
      case b: BoundOf => Some(boundOver(files, b).orNull)
      case SumOf(n) => sumOver(files, n).map(_.map(Long.box).orNull)
      case AvgOf(n) => avgOver(files, n).map(_.map(Double.box).orNull)
      case DistinctPart(_) => None // answered from directories in metaValues
    }

    /** The min/max over `files` of one value-exact column, or None when
      * every file is all-null for it (bounds ignore nulls).
      */
    private def boundOver(files: Seq[String], k: BoundOf): Option[Any] = {
      val BoundOf(n, dt, isMin) = k
      val rs = files.map(at(_, n))
      def pick[T](lo: FileColStat => Option[T], hi: FileColStat => Option[T])(
          implicit ord: Ordering[T]): Option[T] = {
        val vs = rs.flatMap(if (isMin) lo else hi)
        if (vs.isEmpty) None else Some(if (isMin) vs.min else vs.max)
      }
      dt match {
        case FloatType => pick(_.lo_d, _.hi_d).map(_.toFloat)
        case DoubleType => pick(_.lo_d, _.hi_d)
        case TimestampType | TimestampNTZType => pick(_.lo_t, _.hi_t) // micros
        case StringType => pick(_.lo_s, _.hi_s)(Stats.utf8Ordering)
          .map(org.apache.spark.unsafe.types.UTF8String.fromString)
        case LongType => pick(_.lo_l, _.hi_l)
        case ByteType => pick(_.lo_l, _.hi_l).map(_.toByte)
        case ShortType => pick(_.lo_l, _.hi_l).map(_.toShort)
        case _ => pick(_.lo_l, _.hi_l).map(_.toInt) // IntegerType, DateType
      }
    }

    /** Exact `sum(col)` over `files` from the `sum_l` sidecar domain.
      * None = decline (an era sidecar, a value-bearing file without a
      * recorded sum, or a Long-overflowing total — the scan then wraps
      * or errors per its own eval mode); Some(None) = the SQL NULL of a
      * sum with no non-null input; Some(Some(v)) = the answer.
      */
    private def sumOver(files: Seq[String], n: String): Option[Option[Long]] = {
      if (!flags.hasSum) return None
      var acc = 0L
      var any = false
      files.foreach { fl =>
        val r = entry(fl, n).getOrElse(return None) // uncovered: unknowable
        r.sum_l match {
          case _ if r.rows == 0L => () // zero-row file contributes nothing
          case Some(s) =>
            try acc = Math.addExact(acc, s)
            catch { case _: ArithmeticException => return None }
            any = true
          case None if allNull(r) => () // verified all-null: nothing
          case None => return None // value-bearing without a recorded sum
        }
      }
      Some(if (any) Some(acc) else None)
    }

    /** `avg(col)` over `files` from metadata, served ONLY when the
      * scan's own double accumulation is provably lossless in any
      * partial-merge order (Spark averages the integer family through a
      * DoubleType sum):
      *  - every value shares one sign (footer bounds: global lo >= 0 or
      *    global hi <= 0) — so every intermediate partial sum is a
      *    monotone prefix bounded by the total;
      *  - |total| <= 2^53 — so every bounded intermediate (and every
      *    individual value) is an exactly-representable integer double.
      * Under those two gates the scan's result is total/count to the
      * last bit, independent of partitioning. Everything else declines —
      * a metadata answer must never differ from the scan's, even in the
      * last ulp. Null counts of sum-bearing files are data-exact (the
      * same pass that recorded the sums), so the divisor is trustworthy.
      */
    private def avgOver(files: Seq[String], n: String): Option[Option[Double]] =
      sumOver(files, n).flatMap {
        case None => Some(None) // no non-null input: avg IS NULL
        case Some(total) =>
          // value-bearing files need exact footer bounds for the sign
          // gate (and must not be decimal-backed unscaled rows)
          val bearing = files.map(at(_, n)).filter(_.sum_l.isDefined)
          if (bearing.exists(r => !r.has_stats || r.lo_l.isEmpty || r.dec_scale.isDefined))
            None
          else {
            val sameSign = bearing.forall(_.lo_l.get >= 0L) ||
              bearing.forall(_.hi_l.get <= 0L)
            // spelled as two comparisons: math.abs(Long.MinValue) overflows
            val smallEnough = total <= (1L << 53) && total >= -(1L << 53)
            val count = bearing.map(r => r.rows - r.nulls).sum
            if (!sameSign || !smallEnough || count == 0L) None
            else Some(Some(total.toDouble / count))
          }
      }
  }

  /** Answer each requested aggregate over the whole version from the
    * sidecar through the same trust rules and answers as the filtered
    * and grouped paths, or None when any live file is uncovered
    * (exactness cannot be proven). `Some(null)` inside the result is a
    * real SQL NULL (min/max over an all-null column), distinct from
    * declining.
    */
  private def metaValues(dir: String, kinds: Seq[Kind],
      root: String): Option[Seq[Any]] = {
    // under a deletion vector the sidecar describes PRE-delete files.
    // count(*) stays answerable — vector entries are unique positions
    // in live files (COW never reaches a DV version, carries preserve
    // keys), so live rows = sidecar rows − vector cardinality, the
    // Delta stats-minus-DV count. Per-column counts and bounds decline
    // (which rows the vector hides is unknowable from metadata); the
    // subtraction rule then serves those from the subtracted scan.
    // pending equality deletes hide an unknowable-from-metadata row set
    // (tombstones scope by key, not by position count) — decline; the
    // funnel-swapped scan serves the exact answer (round-14)
    if (graft.ops.EqDel.exists(dir)) return None
    val dv = graft.ops.Dv.exists(dir)
    if (dv && kinds.exists(_ != Star)) return None
    if (!Files.isDirectory(Paths.get(dir, Stats.Sidecar))) return None
    val live = liveFiles(dir).toSeq
    if (live.isEmpty) return None
    // the nested sidecar read contains no aggregate, so the rule cannot
    // re-enter; old sidecars decline what their era cannot answer
    // (flags), never mis-answer it
    val a = new Answering(dir)
    if (!a.covers(live.toSet)) return None
    val dvCount =
      if (!dv) 0L
      else graft.ops.Dv.cardinality(SparkSession.active, dir)
    every(kinds) {
      case Star => Some(live.map(a.rowsOf).sum - dvCount)
      case DistinctPart(c) =>
        // the distinct non-null values among IDENTITY partition
        // directories holding at least one row — nulls are excluded
        // exactly as count(DISTINCT) excludes them; any undecodable
        // file (mixed-layout leg) declines. DVs decline above: a
        // vector could have emptied a directory's last rows.
        graft.ops.Sinks.partitionSchemaFor(root, dir).flatMap { ps =>
          val phys = ColMap.toPhysicalName(dir, c)
          val identity = ps.fields.exists(f =>
            f.name.equalsIgnoreCase(phys) &&
              graft.ops.Transforms.parse(f.name).isEmpty)
          if (!identity) None
          else every(live.filter(a.rowsOf(_) > 0))(partitionValue(_, phys, ps))
            .map(_.flatten.distinct.size.toLong)
        }
      case k => if (live.forall(a.exact(_, k))) a.partial(k, live) else None
    }
  }
}
