package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

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
object MetaCountRewrite extends Rule[LogicalPlan] {

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
  // (see [[avgOver]]'s gates)
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
      kinds <- agg.aggregateExpressions.foldRight(
          Option(List.empty[Kind]))((ne, acc) =>
        acc.flatMap(t => kindOf(ne).map(_ :: t)))
      if kinds.nonEmpty
      values <- metaValues(relT._2.snapshotVersionDir, kinds,
        Some(relT._2.snapshotTableRoot))
    } yield LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values)))

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
  //   - sidecar-covered columns: [min,max]⊆bound with zero nulls → ALL
  //     (widened bounds only shrink the ALL set — conservative), no
  //     overlap or all-null → NONE.
  // Strictness is honored exactly (c > 5 is NOT c >= 5 here — the
  // relaxation that is safe for keep-set pruning would over-count an
  // interior file whose min is the open endpoint). Files with deletion-
  // vector entries are forced BOUNDARY so the scan-side subtraction
  // applies. Declines (unanalyzable conjunct, no metadata win) leave the
  // plan for StatsSkipRule's keep-set swap.

  private sealed trait Tri
  private case object AllRows extends Tri
  private case object NoRows extends Tri
  private case object SomeRows extends Tri

  private sealed trait Cmp
  private case object CGe extends Cmp
  private case object CGt extends Cmp
  private case object CLe extends Cmp
  private case object CLt extends Cmp
  private case object CEq extends Cmp
  private final case class Conj(colName: String, cmp: Cmp, vs: Seq[Any])

  /** Literal → comparison-domain value (internal Catalyst values; same
    * domains as [[graft.ops.Stats.prunedFilesBounds]]). None = the
    * filtered path cannot reason about this type.
    */
  private def litValue(l: Literal): Option[Any] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType
        if l.value != null => Some(l.value)
    case org.apache.spark.sql.types.DateType if l.value != null => Some(l.value)
    case FloatType | DoubleType if l.value != null => Some(l.value)
    case org.apache.spark.sql.types.StringType if l.value != null =>
      Some(l.value.toString)
    case TimestampType if l.value != null =>
      Some(graft.ops.Stats.TsVal(l.value.asInstanceOf[Long], instant = true))
    case TimestampNTZType if l.value != null =>
      Some(graft.ops.Stats.TsVal(l.value.asInstanceOf[Long], instant = false))
    case _ => None
  }

  private def splitAnd(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** One conjunct as (column, strict-aware comparison, values), or None
    * when the shape/type is outside the analyzable fragment.
    */
  private def conjOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Conj] = {
    import org.apache.spark.sql.catalyst.expressions._
    def mk(a: Attribute, c: Cmp, l: Literal): Option[Conj] =
      if (l.dataType != a.dataType) None
      else litValue(l).map(v => Conj(a.name, c, Seq(v)))
    e match {
      case EqualTo(a: Attribute, l: Literal) => mk(a, CEq, l)
      case EqualTo(l: Literal, a: Attribute) => mk(a, CEq, l)
      case GreaterThan(a: Attribute, l: Literal) => mk(a, CGt, l)
      case GreaterThan(l: Literal, a: Attribute) => mk(a, CLt, l)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => mk(a, CGe, l)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => mk(a, CLe, l)
      case LessThan(a: Attribute, l: Literal) => mk(a, CLt, l)
      case LessThan(l: Literal, a: Attribute) => mk(a, CGt, l)
      case LessThanOrEqual(a: Attribute, l: Literal) => mk(a, CLe, l)
      case LessThanOrEqual(l: Literal, a: Attribute) => mk(a, CGe, l)
      case In(a: Attribute, list) if list.nonEmpty &&
          list.forall(x => x.isInstanceOf[Literal] && x.dataType == a.dataType) =>
        val vs = list.flatMap(x => litValue(x.asInstanceOf[Literal]))
        if (vs.size == list.size) Some(Conj(a.name, CEq, vs)) else None
      case _ => None
    }
  }

  /** Exact scalar comparison in the shared domains; None = domains
    * incomparable (caller degrades to BOUNDARY).
    */
  private def cmpValues(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number)
        if !x.isInstanceOf[java.math.BigDecimal] &&
          !y.isInstanceOf[java.math.BigDecimal] =>
      val xd = x.doubleValue(); val yd = y.doubleValue()
      // longs above 2^53 lose precision as doubles — compare exactly
      (a, b) match {
        case (xl: Byte, _) => cmpLong(xl.toLong, b)
        case (xl: Short, _) => cmpLong(xl.toLong, b)
        case (xl: Int, _) => cmpLong(xl.toLong, b)
        case (xl: Long, _) => cmpLong(xl, b)
        case _ => Some(java.lang.Double.compare(xd, yd))
      }
    case (x: String, y: String) => Some(graft.ops.Stats.utf8Compare(x, y))
    case _ => None
  }
  private def cmpLong(x: Long, b: Any): Option[Int] = b match {
    case y: Byte => Some(java.lang.Long.compare(x, y.toLong))
    case y: Short => Some(java.lang.Long.compare(x, y.toLong))
    case y: Int => Some(java.lang.Long.compare(x, y.toLong))
    case y: Long => Some(java.lang.Long.compare(x, y))
    case y: Number => Some(java.lang.Double.compare(x.toDouble, y.doubleValue()))
    case _ => None
  }

  /** Classify one file against one conjunct given the file's value
    * RANGE `[lo, hi]` (possibly widened — widening only shrinks the
    * ALL verdict and the NoRows verdict, both conservative) and its
    * null count. `exactPoint` = lo==hi is the exact value of every row
    * (a partition directory), letting CEq decide ALL.
    */
  private def classifyRange(c: Conj, lo: Any, hi: Any, nulls: Long,
      exactPoint: Boolean): Tri = {
    def cmp(a: Any, b: Any): Option[Int] = cmpValues(a, b)
    val v = c.vs.head
    c.cmp match {
      case CEq =>
        // NONE: every candidate value misses the range entirely
        val allMiss = c.vs.forall(x =>
          (cmp(x, lo), cmp(x, hi)) match {
            case (Some(cl), Some(ch)) => cl < 0 || ch > 0
            case _ => false
          })
        if (allMiss) NoRows
        else if (exactPoint && nulls == 0 &&
            c.vs.exists(x => cmp(x, lo).contains(0))) AllRows
        else SomeRows
      case CGe => (cmp(lo, v), cmp(hi, v)) match {
        case (Some(cl), _) if cl >= 0 && nulls == 0 => AllRows
        case (_, Some(ch)) if ch < 0 => NoRows
        case _ => SomeRows
      }
      case CGt => (cmp(lo, v), cmp(hi, v)) match {
        case (Some(cl), _) if cl > 0 && nulls == 0 => AllRows
        case (_, Some(ch)) if ch <= 0 => NoRows
        case _ => SomeRows
      }
      case CLe => (cmp(hi, v), cmp(lo, v)) match {
        case (Some(ch), _) if ch <= 0 && nulls == 0 => AllRows
        case (_, Some(cl)) if cl > 0 => NoRows
        case _ => SomeRows
      }
      case CLt => (cmp(hi, v), cmp(lo, v)) match {
        case (Some(ch), _) if ch < 0 && nulls == 0 => AllRows
        case (_, Some(cl)) if cl >= 0 => NoRows
        case _ => SomeRows
      }
    }
  }

  /** Identity-partition value of `file` (a version-dir-relative key)
    * for partition column `colName`, decoded and typed per the
    * version's declared partition spec. Returns None when the value is
    * not derivable (unpartitioned layout, mixed-layout leg, transform
    * column, undecodable segment); Some(None) is a NULL partition
    * (`__HIVE_DEFAULT_PARTITION__`).
    */
  private def partitionValue(file: String, colName: String,
      partSchema: org.apache.spark.sql.types.StructType): Option[Option[Any]] = {
    val field = partSchema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(return None)
    val seg = file.split('/').dropRight(1).collectFirst {
      case s if s.contains('=') &&
          s.substring(0, s.indexOf('=')).equalsIgnoreCase(colName) =>
        s.substring(s.indexOf('=') + 1)
    }.getOrElse(return None)
    val raw =
      try unescapePath(seg)
      catch { case _: Exception => return None }
    if (raw == "__HIVE_DEFAULT_PARTITION__") return Some(None)
    field.dataType match {
      case org.apache.spark.sql.types.StringType => Some(Some(raw))
      case ByteType | ShortType | IntegerType | LongType =>
        raw.toLongOption.map(v => Some(v))
      case org.apache.spark.sql.types.DateType =>
        try Some(Some(java.time.LocalDate.parse(raw).toEpochDay.toInt))
        catch { case _: Exception => None }
      case _ => None // other partition types: boundary-scan the file
    }
  }

  /** Hive path unescaping (%xx sequences, the escapePathName inverse).
    * Shared with [[graft.ops.Sinks.compactVersionedWhere]]'s directory
    * arithmetic (round-14).
    */
  private[graft] def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Per-file classification of one file against every conjunct —
    * shared by the filtered ([[rewriteFiltered]]) and grouped
    * ([[rewriteGrouped]]) paths.
    */
  private def classifyAgainst(file: String, conjs: Seq[Conj], dir: String,
      byFileCol: Map[(String, String), org.apache.spark.sql.Row],
      partSchema: Option[org.apache.spark.sql.types.StructType],
      sessionUtc: Boolean): Tri = {
    val per = conjs.map { cj =>
      val phys = graft.ops.ColMap.toPhysicalName(dir, cj.colName)
      // identity partition column: the directory value IS every row's
      // value — exact, null-aware, never widened
      val fromPart = partSchema.flatMap(ps =>
        partitionValue(file, phys, ps)) match {
        case Some(None) => Some(NoRows) // NULL partition never matches
        case Some(Some(v)) =>
          Some(classifyRange(cj, v, v, nulls = 0, exactPoint = true))
        case None => None
      }
      fromPart.getOrElse {
        byFileCol.get((file, phys.toLowerCase)) match {
          case None => SomeRows
          case Some(r) =>
            if (!r.getBoolean(4)) SomeRows // has_stats=false: keep-always
            else if (r.getLong(3) == r.getLong(2)) NoRows // all-null file
            else if (!r.isNullAt(16)) SomeRows // decimal domain: scan
            else if (!r.isNullAt(9)) {
              // timestamp domain with flavor guard (widened-safe)
              val adj = r.getBoolean(11)
              val usable = cj.vs.forall {
                case graft.ops.Stats.TsVal(_, instant) =>
                  instant == adj || sessionUtc
                case _ => false
              }
              if (!usable) SomeRows
              else {
                val us = cj.vs.map(_.asInstanceOf[graft.ops.Stats.TsVal].us)
                classifyRange(cj.copy(vs = us.map(_.asInstanceOf[Any])),
                  r.getLong(9), r.getLong(10), r.getLong(3), exactPoint = false)
              }
            }
            else if (!r.isNullAt(5))
              classifyRange(cj, r.getLong(5), r.getLong(6), r.getLong(3),
                exactPoint = false)
            else if (!r.isNullAt(7))
              classifyRange(cj, r.getDouble(7), r.getDouble(8), r.getLong(3),
                exactPoint = false)
            else if (!r.isNullAt(13))
              classifyRange(cj, r.getString(13), r.getString(14), r.getLong(3),
                exactPoint = false)
            else SomeRows
        }
      }
    }
    if (per.contains(NoRows)) NoRows
    else if (per.forall(_ == AllRows)) AllRows
    else SomeRows
  }

  /** The filtered metadata count: see the block comment above. */
  private def rewriteFiltered(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Add
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val f = stripProjects(agg.child) match {
      case flt: Filter => flt
      case _ => return None
    }
    val (rel, t) = relationOf(f.child).getOrElse(return None)
    val dir = t.snapshotVersionDir
    // every aggregate expression must be count(*), count(col), or
    // min/max(col) of an answerable type — the filtered forms metadata
    // can serve: in an ALL-classified file EVERY row satisfies the
    // predicate, so count(col) over its matching rows is exactly
    // rows − nulls(col), and min/max over them are the file's own
    // (value-exact) bounds. Files without the needed trusted/exact
    // entry demote to the boundary scan below.
    val fkinds: Seq[Kind] = agg.aggregateExpressions.map {
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => Star
          case Count(Seq(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference)) => OfColumn(a.name)
          case Min(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference) if boundable(a.dataType) =>
            BoundOf(a.name, a.dataType, isMin = true)
          case Max(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference) if boundable(a.dataType) =>
            BoundOf(a.name, a.dataType, isMin = false)
          // round-14: filtered sums — an ALL file's matching rows are
          // ALL its rows, so it contributes its data-exact per-file sum;
          // filtered avg serves only when the whole answer is metadata
          // (no boundary — an Average cannot be combined externally)
          case Sum(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference, _) if intFamily(a.dataType) =>
            SumOf(a.name)
          case Average(a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference, _) if intFamily(a.dataType) =>
            AvgOf(a.name)
          case _ => return None
        }
      case _ => return None
    }
    if (fkinds.isEmpty) return None
    val conjs = {
      val cs = splitAnd(f.condition).map(conjOf)
      if (cs.exists(_.isEmpty)) return None
      cs.flatten
    }
    if (conjs.isEmpty) return None
    val sidecar = Paths.get(dir, graft.ops.Stats.Sidecar)
    if (!Files.isDirectory(sidecar)) return None
    // equality deletes hide rows by KEY across files — no per-file
    // arithmetic recovers the hidden count; decline (round-14)
    if (graft.ops.EqDel.exists(dir)) return None
    val spark = SparkSession.active
    val live = graft.io.Fs.walkParquet(Paths.get(dir))
      .map(_.toString.stripPrefix(dir).stripPrefix("/")).toSet
    if (live.isEmpty) return None
    val (side, flags) = answeringRows(dir)
    val SideFlags(fHasTs, fHasS, fHasSum) = flags
    val (byFile, byFileCol) = (side.byFile, side.byFileCol)
    // row counts must cover every live file or interior sums are unprovable
    if (!live.forall(byFile.contains)) return None
    val partSchema = graft.ops.Sinks.partitionSchemaFor(t.snapshotTableRoot, dir)
    val sessionUtc = java.time.ZoneId
      .of(spark.sessionState.conf.sessionLocalTimeZone).normalized() ==
      java.time.ZoneOffset.UTC
    // deletion-vector files must be SCANNED (the metadata row count is
    // pre-delete); hidden rows are per-file, so only those files demote
    val dvFiles: Set[String] =
      if (!graft.ops.Dv.exists(dir)) Set.empty
      else graft.ops.Dv.bitmapEntries(spark, dir).map(_._1).toSet
    def classifyFile(file: String): Tri =
      classifyAgainst(file, conjs, dir, byFileCol, partSchema, sessionUtc)
    val classes = live.toSeq.map(fl => fl -> classifyFile(fl))
    // count(col) needs a trusted per-file entry for that column, and
    // min/max(col) a VALUE-EXACT one (the same per-domain trust rules
    // as the unfiltered path) — an ALL file lacking them cannot
    // contribute from metadata and demotes to the boundary scan instead
    // of declining the whole rewrite
    val countedCols = fkinds.collect { case OfColumn(n) =>
      graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase }.distinct
    def exactFor(fl: String, k: Kind): Boolean =
      exactKindFor(fl, k, dir, byFileCol, flags)
    def metadataServed(fl: String): Boolean =
      countedCols.forall(c => byFileCol.get((fl, c)).exists(_.getBoolean(4))) &&
        fkinds.forall(exactFor(fl, _))
    val interiorFiles = classes.collect {
      case (fl, AllRows) if !dvFiles(fl) && metadataServed(fl) => fl }
    val boundary = (classes.collect { case (fl, SomeRows) => fl } ++
      classes.collect {
        case (fl, AllRows) if dvFiles(fl) || !metadataServed(fl) => fl }).sorted
    // no metadata win: nothing provably ALL and nothing provably NONE →
    // leave the plan for StatsSkipRule's keep-set swap
    if (interiorFiles.isEmpty && boundary.size == live.size) return None
    def interiorOf(k: Kind): Long = k match {
      case Star => interiorFiles.map(fl => byFile(fl).head.getLong(2)).sum
      case OfColumn(n) =>
        val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
        interiorFiles.map { fl =>
          val r = byFileCol((fl, c)); r.getLong(2) - r.getLong(3)
        }.sum
      case _ => 0L // unreachable (bounds go through interiorBound)
    }
    // the interior min/max as an INTERNAL Catalyst value, or None when
    // every interior file is all-null for the column (the bound then
    // comes from the boundary scan alone — or is NULL outright)
    def interiorBound(k: Kind): Option[Any] = k match {
      case b: BoundOf => boundOver(interiorFiles, b, dir, byFileCol)
      case _ => None
    }
    if (boundary.isEmpty) {
      // pure metadata answer (partition-only predicates land here: every
      // file is ALL or NONE by directory arithmetic alone)
      val values: Seq[Any] = fkinds.map {
        case b: BoundOf => interiorBound(b).orNull
        case SumOf(n) =>
          sumOver(interiorFiles,
            graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase,
            byFileCol, flags) match {
            case None => return None // overflowing total: the scan decides
            case Some(o) => o.map(Long.box).orNull
          }
        case AvgOf(n) =>
          avgOver(interiorFiles,
            graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase,
            byFileCol, flags) match {
            case None => return None // sign/magnitude gate failed
            case Some(o) => o.map(Double.box).orNull
          }
        case k => interiorOf(k)
      }
      return Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
        Seq(InternalRow.fromSeq(values))))
    }
    // an Average cannot be combined with a boundary scan's partial (its
    // sum/count internals are not exposed to the rewrite) — decline the
    // hybrid; StatsSkipRule still prunes the fallback scan
    if (fkinds.exists(_.isInstanceOf[AvgOf])) return None
    // hybrid: scan ONLY the boundary files under the exact predicate and
    // add the interior constant inside the aggregate
    val analyzed = graft.ops.Sinks.snapshotRead(spark, t.snapshotTableRoot, dir,
      Some(boundary.map(k => s"$dir/$k"))).queryExecution.analyzed
    val out = DvReadRule.realias(rel.output, analyzed).getOrElse(return None)
    val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.zip(fkinds).map {
      case (al @ Alias(ae: AggregateExpression, name), b @ BoundOf(_, dt, isMin)) =>
        // union-min/max semantics: Least/Greatest skip nulls (an empty
        // boundary result must not erase the interior bound, and an
        // all-null interior contributes nothing)
        val combined = interiorBound(b) match {
          case None => ae: org.apache.spark.sql.catalyst.expressions.Expression
          case Some(v) =>
            if (isMin)
              org.apache.spark.sql.catalyst.expressions.Least(
                Seq(ae, Literal(v, dt)))
            else
              org.apache.spark.sql.catalyst.expressions.Greatest(
                Seq(ae, Literal(v, dt)))
        }
        Alias(combined, name)(exprId = al.exprId, qualifier = al.qualifier)
      case (al @ Alias(ae: AggregateExpression, name), SumOf(n)) =>
        // the boundary sum is NULL on an empty/all-null boundary — it
        // must not erase a real interior sum (coalesce to 0 before the
        // Add); an interior with no non-null input adds nothing and the
        // boundary's own NULL-ness passes through untouched
        val combined = sumOver(interiorFiles,
          graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase,
          byFileCol, flags) match {
          case None => return None // overflowing interior: scan decides
          case Some(None) => ae: org.apache.spark.sql.catalyst.expressions.Expression
          case Some(Some(v)) =>
            Add(org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(ae, Literal(0L, LongType))), Literal(v, LongType))
        }
        Alias(combined, name)(exprId = al.exprId, qualifier = al.qualifier)
      case (al @ Alias(ae: AggregateExpression, name), k) =>
        Alias(Add(ae, Literal(interiorOf(k), LongType)), name)(
          exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None // unreachable (fkinds gate)
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
    case org.apache.spark.sql.types.StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
    case ByteType => v.asInstanceOf[Long].toByte
    case ShortType => v.asInstanceOf[Long].toShort
    case IntegerType => v.asInstanceOf[Long].toInt
    case LongType => v.asInstanceOf[Long]
    case org.apache.spark.sql.types.DateType => v // already Int days
    case _ => v
  }

  /** Grouped metadata aggregates (round-14): `GROUP BY <identity
    * partition column(s)>` with count(*)/count(col) — and, under the
    * same per-file trust rules as the global paths, min/max/sum/avg —
    * the "partitions overview" probe (`SELECT dt, count(*), sum(qty) …
    * GROUP BY dt`) answered from directory arithmetic + sidecar rows,
    * ZERO files opened.
    * An optional WHERE classifies per file exactly like the global
    * filtered path; any BOUNDARY file declines the whole rewrite (a
    * grouped hybrid would need per-group scan unions — StatsSkipRule
    * still prunes the declined scan). Groups whose files all classify
    * NONE vanish, exactly like the scan's GROUP BY; zero-row schema
    * anchors contribute nothing and never fabricate a group. DV and
    * eq-delete versions decline (hidden rows are per-position/per-key,
    * not per-directory).
    */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
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
    // outputs: grouping attributes (bare or re-aliased) or plain counts
    val outKinds: Seq[Either[Int, Kind]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        val i = groupAttrs.indexWhere(_.exprId == a.exprId)
        if (i < 0) return None else Left(i)
      case Alias(a: AttributeReference, _) =>
        val i = groupAttrs.indexWhere(_.exprId == a.exprId)
        if (i < 0) return None else Left(i)
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => Right(Star)
          case Count(Seq(a: AttributeReference)) => Right(OfColumn(a.name))
          // round-14: per-group min/max/sum/avg ride the same per-file
          // trust rules as the global paths — any non-exact kept file
          // declines the whole rewrite (grouped hybrids don't exist)
          case Min(a: AttributeReference) if boundable(a.dataType) =>
            Right(BoundOf(a.name, a.dataType, isMin = true))
          case Max(a: AttributeReference) if boundable(a.dataType) =>
            Right(BoundOf(a.name, a.dataType, isMin = false))
          case Sum(a: AttributeReference, _) if intFamily(a.dataType) =>
            Right(SumOf(a.name))
          case Average(a: AttributeReference, _) if intFamily(a.dataType) =>
            Right(AvgOf(a.name))
          case _ => return None
        }
      case _ => return None
    }
    // a bare SELECT DISTINCT <partition cols> answers too — it is SHOW
    // PARTITIONS: the distinct directory values among files holding at
    // least one (classified-in) row, zero files opened
    val sidecar = Paths.get(dir, graft.ops.Stats.Sidecar)
    if (!Files.isDirectory(sidecar)) return None
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
      val phys = graft.ops.ColMap.toPhysicalName(dir, a.name)
      val ok = partSchema.fields.exists(f => f.name.equalsIgnoreCase(phys) &&
        graft.ops.Transforms.parse(f.name).isEmpty)
      if (!ok) return None
    }
    val conjs = cond match {
      case None => Nil
      case Some(c) =>
        val cs = splitAnd(c).map(conjOf)
        if (cs.exists(_.isEmpty)) return None
        cs.flatten
    }
    val spark = SparkSession.active
    val live = graft.io.Fs.walkParquet(Paths.get(dir))
      .map(_.toString.stripPrefix(dir).stripPrefix("/")).toSet
    if (live.isEmpty) return None
    val (side, gflags) = answeringRows(dir)
    val (byFile, byFileCol) = (side.byFile, side.byFileCol)
    if (!live.forall(byFile.contains)) return None
    val sessionUtc = java.time.ZoneId
      .of(spark.sessionState.conf.sessionLocalTimeZone).normalized() ==
      java.time.ZoneOffset.UTC
    // duplicate group outputs (SELECT cat, cat AS c2 …) would duplicate
    // exprIds through the hybrid's inner aggregate — decline, rare shape
    val leftIdx = outKinds.collect { case Left(i) => i }
    if (leftIdx.distinct.size != leftIdx.size) return None
    val counted = outKinds.collect { case Right(OfColumn(n)) =>
      graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase }.distinct
    // classify every live data file. An AllRows file that is not
    // answering-grade for every kind — or whose partition tuple cannot
    // be decoded (a mixed-layout leg) — DEMOTES to the boundary scan
    // (round-14 hybrid) instead of declining the whole rewrite.
    def fileServed(fl: String): Boolean =
      counted.forall(c => byFileCol.get((fl, c)).exists(_.getBoolean(4))) &&
        outKinds.forall {
          case Right(k) => exactKindFor(fl, k, dir, byFileCol, gflags)
          case Left(_) => true
        }
    def tupleOf(fl: String): Option[Seq[Any]] = {
      val vals = groupAttrs.map { a =>
        val phys = graft.ops.ColMap.toPhysicalName(dir, a.name)
        partitionValue(fl, phys, partSchema)
          .map(opt => opt.map(internalOf(a.dataType, _)).orNull)
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
    }
    // deletion-vector files force into the boundary scan (their
    // metadata row counts are pre-delete, and a NoRows verdict stays
    // NoRows — a delete only removes rows)
    val dvFiles: Set[String] =
      if (!graft.ops.Dv.exists(dir)) Set.empty
      else graft.ops.Dv.bitmapEntries(spark, dir).map(_._1).toSet
    val interior = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], String)]
    val boundaryB = scala.collection.mutable.ArrayBuffer.empty[String]
    live.toSeq.sorted
      .filter(fl => byFile(fl).head.getLong(2) > 0) // schema anchors: no rows
      .foreach { fl =>
        val cls =
          if (conjs.isEmpty) AllRows
          else classifyAgainst(fl, conjs, dir, byFileCol, Some(partSchema),
            sessionUtc)
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
    // a group's interior PARTIAL — the same shape the boundary scan's
    // partial aggregate emits, so the two merge in one outer aggregate:
    // counts/sums merge by Sum, bounds by Min/Max. None = decline.
    def partialOf(kind: Kind, files: Seq[String]): Option[Any] = kind match {
      case Star => Some(files.map(fl => byFile(fl).head.getLong(2)).sum)
      case OfColumn(n) =>
        val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
        Some(files.map { fl =>
          val r = byFileCol((fl, c)); r.getLong(2) - r.getLong(3)
        }.sum)
      case b: BoundOf => Some(boundOver(files, b, dir, byFileCol).orNull)
      case SumOf(n) =>
        sumOver(files, graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase,
          byFileCol, gflags) match {
          case None => None // overflowing group total: the scan decides
          case Some(o) => Some(o.map(Long.box).orNull)
        }
      case AvgOf(n) => // pure path only (the hybrid declines avg first)
        avgOver(files, graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase,
          byFileCol, gflags) match {
          case None => None
          case Some(o) => Some(o.map(Double.box).orNull)
        }
      case DistinctPart(_) => None // a grouped distinct never reaches here
    }
    if (boundaryB.isEmpty) {
      // pure metadata answer: every file is ALL or NONE
      val rows: Seq[InternalRow] = grouped.toSeq.map { case (gvals, files) =>
        InternalRow.fromSeq(outKinds.map {
          case Left(i) => gvals(i)
          case Right(k) => partialOf(k, files) match {
            case None => return None
            case Some(v) => v
          }
        })
      }
      return Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute), rows))
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
    val localRows: Seq[InternalRow] = grouped.toSeq.map { case (gvals, files) =>
      InternalRow.fromSeq(outKinds.map {
        case Left(i) => gvals(i)
        case Right(k) => partialOf(k, files) match {
          case None => return None
          case Some(v) => v
        }
      })
    }
    val union = Union(Seq(innerAgg, LocalRelation(localAttrs, localRows)))
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
    case org.apache.spark.sql.types.DateType => true
    case TimestampType | TimestampNTZType => true
    // round-14: strings answer when every value-bearing row carries
    // `s_exact` — bounds computed from the data at commit time, not the
    // truncatable footer binaries (which remain pruning-grade only)
    case org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  private def kindOf(ne: NamedExpression): Option[Kind] = ne match {
    // count(DISTINCT col): only ever answerable for identity PARTITION
    // columns (the directory value is every row's value, so the
    // distinct set is the set of value-bearing directories) — the
    // partition-column check happens in metaValues where the dir is
    // known; any other distinct declines there
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

  /** Exact `sum(col)` over `files` from the `sum_l` sidecar domain.
    * None = decline (an era sidecar, a value-bearing file without a
    * recorded sum, or a Long-overflowing total — the scan then wraps or
    * errors per its own eval mode); Some(None) = the SQL NULL of a sum
    * with no non-null input; Some(Some(v)) = the answer. `physLower` is
    * the lowercased physical column name.
    */
  private def sumOver(files: Seq[String], physLower: String,
      byFileCol: Map[(String, String), org.apache.spark.sql.Row],
      flags: SideFlags): Option[Option[Long]] = {
    if (!flags.hasSum) return None
    var acc = 0L
    var any = false
    files.foreach { fl =>
      byFileCol.get((fl, physLower)) match {
        case None => return None // uncovered file: unknowable
        case Some(r) =>
          if (r.getLong(2) == 0L) () // zero-row file contributes nothing
          else if (!r.isNullAt(17)) {
            try acc = Math.addExact(acc, r.getLong(17))
            catch { case _: ArithmeticException => return None }
            any = true
          }
          else if (r.getBoolean(4) && r.getLong(3) == r.getLong(2)) ()
          // ^ verified all-null: contributes nothing
          else return None // value-bearing without a recorded sum
      }
    }
    Some(if (any) Some(acc) else None)
  }

  /** Whether ONE file's sidecar entry is answering-grade for `k` — the
    * per-domain trust rules (value-exact bounds, recorded sums, verified
    * all-null). A non-qualifying file demotes to the boundary scan in
    * the filtered path and declines the grouped rewrite wholesale.
    * Shared by [[rewriteFiltered]] and [[rewriteGrouped]] (round-14).
    */
  private def exactKindFor(fl: String, k: Kind, dir: String,
      byFileCol: Map[(String, String), org.apache.spark.sql.Row],
      flags: SideFlags): Boolean = k match {
    case BoundOf(n, dt, _) =>
      val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
      byFileCol.get((fl, c)).exists { r =>
        if (!r.getBoolean(4)) false
        else dt match {
          case ByteType | ShortType | IntegerType | LongType |
              org.apache.spark.sql.types.DateType =>
            r.isNullAt(16) // decimal-backed ints are unscaled: demote
          case FloatType | DoubleType => true // NaN files are has_stats=false
          case TimestampType | TimestampNTZType =>
            flags.hasTs && (r.isNullAt(9) || // all-null: contributes nothing
              (!r.isNullAt(12) && r.getBoolean(12) &&
                !r.isNullAt(11) &&
                r.getBoolean(11) == (dt == TimestampType)))
          case org.apache.spark.sql.types.StringType =>
            flags.hasS && (r.isNullAt(13) ||
              (!r.isNullAt(15) && r.getBoolean(15)))
          case _ => false
        }
      }
    // an ALL file contributes its data-exact sum — qualify when the
    // sum is recorded, the file is verified all-null, or it is empty
    case SumOf(n) =>
      flags.hasSum && {
        val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
        byFileCol.get((fl, c)).exists { r =>
          r.getLong(2) == 0L || !r.isNullAt(17) ||
            (r.getBoolean(4) && r.getLong(3) == r.getLong(2))
        }
      }
    // avg additionally needs the sign-gate bounds on value-bearing
    // files ([[avgOver]]); pure-sign/magnitude failures surface there
    case AvgOf(n) =>
      flags.hasSum && {
        val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
        byFileCol.get((fl, c)).exists { r =>
          r.getLong(2) == 0L ||
            (!r.isNullAt(17) && r.getBoolean(4) && !r.isNullAt(5) &&
              r.isNullAt(16)) ||
            (r.getBoolean(4) && r.getLong(3) == r.getLong(2))
        }
      }
    case _ => true
  }

  /** The min/max over `files` of one value-exact column as an INTERNAL
    * Catalyst value, or None when every file is all-null for it (the
    * caller then answers NULL, or lets a boundary scan decide). Callers
    * must have gated every file's exactness first ([[exactKindFor]]) —
    * this helper only combines. Shared by the filtered path's interior
    * bound and the grouped path's per-group bounds (round-14).
    */
  private def boundOver(files: Seq[String], k: BoundOf, dir: String,
      byFileCol: Map[(String, String), org.apache.spark.sql.Row])
      : Option[Any] = {
    val BoundOf(n, dt, isMin) = k
    val c = graft.ops.ColMap.toPhysicalName(dir, n).toLowerCase
    def pick(lo: Int, hi: Int) = if (isMin) lo else hi
    dt match {
      case FloatType | DoubleType =>
        val i = pick(7, 8)
        val vs = files.map(fl => byFileCol((fl, c)))
          .filter(!_.isNullAt(i)).map(_.getDouble(i))
        if (vs.isEmpty) None
        else {
          val v = if (isMin) vs.min else vs.max
          Some(if (dt == FloatType) v.toFloat else v)
        }
      case TimestampType | TimestampNTZType =>
        val i = pick(9, 10)
        val vs = files.map(fl => byFileCol((fl, c)))
          .filter(!_.isNullAt(i)).map(_.getLong(i))
        if (vs.isEmpty) None else Some(if (isMin) vs.min else vs.max)
      case org.apache.spark.sql.types.StringType =>
        val i = pick(13, 14)
        val vs = files.map(fl => byFileCol((fl, c)))
          .filter(!_.isNullAt(i)).map(_.getString(i))
        if (vs.isEmpty) None
        else Some(org.apache.spark.unsafe.types.UTF8String.fromString(
          if (isMin) vs.min(graft.ops.Stats.utf8Ordering)
          else vs.max(graft.ops.Stats.utf8Ordering)))
      case _ => // integer family + date (int32 days ride lo_l/hi_l)
        val i = pick(5, 6)
        val vs = files.map(fl => byFileCol((fl, c)))
          .filter(!_.isNullAt(i)).map(_.getLong(i))
        if (vs.isEmpty) None
        else {
          val v = if (isMin) vs.min else vs.max
          Some(dt match {
            case LongType => v
            case ByteType => v.toByte
            case ShortType => v.toShort
            case _ => v.toInt // IntegerType, DateType
          })
        }
    }
  }

  /** `avg(col)` over `files` from metadata, served ONLY when the scan's
    * own double accumulation is provably lossless in any partial-merge
    * order (Spark averages the integer family through a DoubleType
    * sum):
    *  - every value shares one sign (footer bounds: global lo >= 0 or
    *    global hi <= 0) — so every intermediate partial sum is a
    *    monotone prefix bounded by the total;
    *  - |total| <= 2^53 — so every bounded intermediate (and every
    *    individual value) is an exactly-representable integer double.
    * Under those two gates the scan's result is total/count to the last
    * bit, independent of partitioning. Everything else declines — a
    * metadata answer must never differ from the scan's, even in the
    * last ulp. Null counts of sum-bearing files are data-exact (the
    * same pass that recorded the sums), so the divisor is trustworthy.
    */
  private def avgOver(files: Seq[String], physLower: String,
      byFileCol: Map[(String, String), org.apache.spark.sql.Row],
      flags: SideFlags): Option[Option[Double]] =
    sumOver(files, physLower, byFileCol, flags).flatMap {
      case None => Some(None) // no non-null input: avg IS NULL
      case Some(total) =>
        var n = 0L
        var lo = Long.MaxValue
        var hi = Long.MinValue
        files.foreach { fl =>
          val r = byFileCol((fl, physLower)) // present: sumOver covered it
          if (!r.isNullAt(17)) {
            // value-bearing file: needs exact footer bounds for the
            // sign gate (and must not be a decimal-backed unscaled row)
            if (!r.getBoolean(4) || r.isNullAt(5) || !r.isNullAt(16))
              return None
            lo = math.min(lo, r.getLong(5))
            hi = math.max(hi, r.getLong(6))
            n += r.getLong(2) - r.getLong(3)
          }
        }
        val sameSign = lo >= 0L || hi <= 0L
        // spelled as two comparisons: math.abs(Long.MinValue) overflows
        val smallEnough = total <= (1L << 53) && total >= -(1L << 53)
        if (!sameSign || !smallEnough || n == 0L) None
        else Some(Some(total.toDouble / n))
    }

  /** The `_stats` rows of `dir` ([[graft.ops.Stats.sidecarRows]]: the
    * fixed layout, absent era columns padded with typed nulls so row
    * indices stay stable) and the [[SideFlags]] that still gate the
    * DECLINE decision — an all-null padded column must never read as
    * "all-null data", only as "this sidecar cannot answer".
    */
  private[graft] def answeringRows(dir: String)
      : (graft.ops.SidecarRows, SideFlags) = {
    val side = graft.ops.Stats.sidecarRows(SparkSession.active, dir)
    (side, SideFlags(
      hasTs = side.columns("lo_t") && side.columns("t_exact"),
      hasS = side.columns("s_exact"), hasSum = side.columns("sum_l")))
  }

  /** Answer each requested aggregate from the sidecar, or None when any
    * live file is uncovered (exactness cannot be proven). `Some(null)`
    * inside the result is a real SQL NULL (min/max over an all-null
    * column), distinct from declining.
    */
  private def metaValues(dir: String, kinds: Seq[Kind],
      rootOpt: Option[String]): Option[Seq[Any]] = {
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
    val sidecar = Paths.get(dir, graft.ops.Stats.Sidecar)
    if (!Files.isDirectory(sidecar)) return None
    val dvCount =
      if (!dv) 0L
      else graft.ops.Dv.cardinality(SparkSession.active, dir)
    val live = graft.io.Fs.walkParquet(Paths.get(dir))
      .map(_.toString.stripPrefix(dir).stripPrefix("/")).toSet
    if (live.isEmpty) return None
    // the nested sidecar read contains no aggregate, so the rule cannot
    // re-enter; old sidecars decline timestamp bounds (flags), never
    // mis-answer them
    val (side, flags) = answeringRows(dir)
    val SideFlags(hasTs, hasS, _) = flags
    val (byFile, byFileCol) = (side.byFile, side.byFileCol)
    if (!live.forall(byFile.contains)) return None
    // every live file's trusted entry for column `c`, or None (decline);
    // the sidecar speaks PHYSICAL names, the aggregate LOGICAL ones
    def covered(c: String): Option[Seq[org.apache.spark.sql.Row]] = {
      val phys = graft.ops.ColMap.toPhysicalName(dir, c)
      val per = live.toSeq.map(f =>
        byFile(f).find(r => r.getString(1).equalsIgnoreCase(phys) && r.getBoolean(4)))
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    val total = live.toSeq.map(f => byFile(f).head.getLong(2)).sum - dvCount
    val values: Seq[Option[Any]] = kinds.map {
      case Star => Some(total)
      case OfColumn(c) => covered(c).map(_.map(r => r.getLong(2) - r.getLong(3)).sum)
      // round-14: sum/avg from the data-exact per-file sums (None =
      // decline; an inner null is the real SQL NULL of an empty input)
      case DistinctPart(c) =>
        // the distinct non-null values among IDENTITY partition
        // directories holding at least one row — nulls are excluded
        // exactly as count(DISTINCT) excludes them; any undecodable
        // file (mixed-layout leg) declines. DVs decline above: a
        // vector could have emptied a directory's last rows.
        rootOpt.flatMap { root =>
          graft.ops.Sinks.partitionSchemaFor(root, dir).flatMap { ps =>
            val phys = graft.ops.ColMap.toPhysicalName(dir, c)
            val identity = ps.fields.exists(f =>
              f.name.equalsIgnoreCase(phys) &&
                graft.ops.Transforms.parse(f.name).isEmpty)
            if (!identity) None
            else {
              val per = live.toSeq
                .filter(f => byFile(f).head.getLong(2) > 0)
                .map(f => partitionValue(f, phys, ps))
              if (per.exists(_.isEmpty)) None
              else Some(per.flatten.collect { case Some(v) => v }
                .distinct.size.toLong)
            }
          }
        }
      case SumOf(c) =>
        sumOver(live.toSeq, graft.ops.ColMap.toPhysicalName(dir, c).toLowerCase,
          byFileCol, flags).map(_.map(Long.box).orNull)
      case AvgOf(c) =>
        avgOver(live.toSeq, graft.ops.ColMap.toPhysicalName(dir, c).toLowerCase,
          byFileCol, flags).map(_.map(Double.box).orNull)
      case BoundOf(c, dt, isMin) => covered(c).flatMap { rs =>
        // files whose bounds are absent hold only nulls for this column
        // (bounds ignore nulls); all files all-null => the answer IS null
        def longs(i: Int) = rs.filter(!_.isNullAt(i)).map(_.getLong(i))
        def dbls(i: Int) = rs.filter(!_.isNullAt(i)).map(_.getDouble(i))
        dt match {
          case FloatType | DoubleType =>
            val vs = if (isMin) dbls(7) else dbls(8)
            if (vs.isEmpty) Some(null)
            else {
              val v = if (isMin) vs.min else vs.max
              Some(if (dt == FloatType) v.toFloat else v)
            }
          case org.apache.spark.sql.types.StringType =>
            if (!hasS) None // pre-round-14 sidecar: decline, never guess
            else {
              // every VALUE-BEARING row must be data-exact (`s_exact`):
              // footer binary bounds may be truncated — pruning-grade,
              // not answering-grade. Boundless covered rows are all-null
              // files (bounds ignore nulls); all files all-null => NULL.
              val bearing = rs.filter(!_.isNullAt(13))
              if (bearing.exists(r => r.isNullAt(15) || !r.getBoolean(15))) None
              else if (bearing.isEmpty) Some(null)
              else {
                val vs = bearing.map(r =>
                  if (isMin) r.getString(13) else r.getString(14))
                val v =
                  if (isMin) vs.min(graft.ops.Stats.utf8Ordering)
                  else vs.max(graft.ops.Stats.utf8Ordering)
                // LocalRelation rows carry INTERNAL values
                Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
              }
            }
          case TimestampType | TimestampNTZType =>
            if (!hasTs) None // pre-upgrade sidecar: decline, never guess
            else {
              // every value-bearing row must be VALUE-exact micros of the
              // right flavor (adjusted for TIMESTAMP, wall-clock for NTZ);
              // a ns-floored or flavor-mismatched file declines the whole
              // answer — pruning-grade bounds are not answering-grade
              val wantAdj = dt == TimestampType
              val bearing = rs.filter(!_.isNullAt(9))
              if (bearing.exists(r => r.isNullAt(12) || !r.getBoolean(12) ||
                  r.isNullAt(11) || r.getBoolean(11) != wantAdj)) None
              else if (bearing.isEmpty) Some(null)
              else {
                val vs = bearing.map(r => if (isMin) r.getLong(9) else r.getLong(10))
                Some(if (isMin) vs.min else vs.max) // internal micros Long
              }
            }
          case _ =>
            val vs = if (isMin) longs(5) else longs(6)
            if (vs.isEmpty) Some(null)
            else {
              val v = if (isMin) vs.min else vs.max
              Some(dt match {
                case LongType => v
                case ByteType => v.toByte
                case ShortType => v.toShort
                case _ => v.toInt // IntegerType, DateType (int32 days)
              })
            }
        }
      }
    }
    if (values.exists(_.isEmpty)) None else Some(values.map(_.get))
  }
}
