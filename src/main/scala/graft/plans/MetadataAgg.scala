package graft.plans

import graft.catalog.SnapshotTableV2
import graft.io.SnapshotTables
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._

/** METADATA-ONLY SQL AGGREGATES (X113) — Iceberg serves COUNT/MIN/MAX
  * from its manifests without opening a data file; this rule does the
  * same for snapshot-catalog tables: a grouping-less `SELECT count(*),
  * count(c), min(c), max(c) FROM t` whose every aggregate is provably
  * answerable from the per-file stats manifests collapses to a
  * [[LocalRelation]] — at a 100k-file table that turns a full scan
  * into a manifest read.
  *
  * Honesty rules (inherited from [[SnapshotTables.manifestStatsForScan]]
  * / [[SnapshotTables.fastCountForScan]], which share their coverage and
  * stats functions with `fastCount`/`manifestAgg` on the Scala API —
  * `SnapshotManifests.rowCount` and `SnapshotManifests.colStats`):
  *  - row counts need every file row-counted by a manifest; merge-on-
  *    read segments and schema-evolved chains never qualify;
  *  - `count(c)` = rows − nulls, both fully covered;
  *  - `min`/`max` need bounds on every file (all-NULL files are
  *    covered by proof, and an all-NULL column answers literal NULL);
  *    numeric/date/timestamp only — parquet string footer stats may be
  *    TRUNCATED (bounds, not extrema), and any manifest double that
  *    cannot round-trip into the column's type exactly (e.g. a BIGINT
  *    beyond 2^53) disqualifies itself;
  *  - a FILTER clause, DISTINCT, grouping, or any predicate above the
  *    scan disqualifies the whole statement — one unanswerable
  *    aggregate keeps the entire real scan.
  * Time travel works unchanged: the rewrite answers for the relation's
  * own pinned version. Disable with
  * `graft.scan.metadataAggregates = false`. */
object MetadataAggRule extends Rule[LogicalPlan] {

  /** Decision memo — the manifest consultation must not re-run on each
    * fixed-point iteration of the operator batch. */
  private val Decided = TreeNodeTag[Boolean]("graft.scan.metaAgg")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("graft.scan.metadataAggregates", "true").toBoolean) plan
    else plan.transformUpWithSubqueries {
      case a @ Aggregate(Nil, aggs, child, _)
          if a.getTagValue(Decided).isEmpty && scanOf(child).isDefined =>
        a.setTagValue(Decided, true)
        val (t, cond) = scanOf(child).get
        rewrite(a, aggs, t, cond).getOrElse(a)
    }

  /** The snapshot-table relation under the aggregate — possibly behind
    * column-pruning Projects of bare attributes and AT MOST ONE Filter
    * (returned for the partition-scope check); computed projections or
    * stacked filters disqualify. */
  private def scanOf(p: LogicalPlan): Option[(SnapshotTableV2, Option[Expression])] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: SnapshotTableV2 if t.pinnedVersionNumber > 0 => Some((t, None))
      case _ => None
    }
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) => scanOf(child)
    case Filter(cond, child) =>
      scanOf(child).collect { case (t, None) => (t, Some(cond)) }
    case _ => None
  }

  /** A predicate → identity-partition directory tokens, when EVERY
    * conjunct is `pcol = literal` on a column of the chain's verified
    * uniform identity layout (X114). Values render exactly as the
    * parquet writer spells partition directories; anything needing
    * Hive path escaping disqualifies rather than risking a mismatch.
    * IsNotNull conjuncts on partition columns ride along free (an
    * equality implies them). */
  private def partitionTokens(cond: Expression, idCols: Set[String]): Option[Seq[String]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def render(l: Literal): Option[String] = Option(l.value).flatMap { v =>
      l.dataType match {
        case StringType => Some(v.toString)
        case ByteType | ShortType | IntegerType | LongType => Some(v.toString)
        case DateType =>
          Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
        case _ => None
      }
    }.filter(_.matches("[A-Za-z0-9][A-Za-z0-9_.\\-]*")) // no Hive path escaping
    val cs = conjuncts(cond)
    val eqCols = cs.collect {
      case EqualTo(a: AttributeReference, _: Literal) => a.name
      case EqualTo(_: Literal, a: AttributeReference) => a.name
    }.toSet
    val toks = cs.map {
      case EqualTo(a: AttributeReference, l: Literal) if idCols.contains(a.name) =>
        render(l).map(v => s"${a.name}=$v")
      case EqualTo(l: Literal, a: AttributeReference) if idCols.contains(a.name) =>
        render(l).map(v => s"${a.name}=$v")
      // subsumed by an equality on the same column — alone it would
      // still have to exclude null-partition rows, so it never rides free
      case IsNotNull(a: AttributeReference)
          if idCols.contains(a.name) && eqCols.contains(a.name) => Some("")
      case _ => None
    }
    if (toks.exists(_.isEmpty)) None
    else Some(toks.flatten.filter(_.nonEmpty)).filter(_.nonEmpty)
  }

  /** A manifest double → the column type's internal value, ONLY when
    * the round-trip is provably exact (a stored double below 2^53 that
    * equals a whole number IS the exact integer extremum — doubles
    * represent every integer up to 2^53 exactly, so a lossy footer
    * conversion cannot land below that line). */
  private def numFromDouble(d: Double, dt: DataType): Option[Any] = {
    val whole = d == math.rint(d) && math.abs(d) < 9007199254740992.0 // 2^53
    dt match {
      case IntegerType if whole && d >= Int.MinValue && d <= Int.MaxValue => Some(d.toInt)
      case ShortType if whole && d >= Short.MinValue && d <= Short.MaxValue => Some(d.toShort)
      case ByteType if whole && d >= Byte.MinValue && d <= Byte.MaxValue => Some(d.toByte)
      case LongType if whole => Some(d.toLong)
      case DoubleType => Some(d)
      case FloatType if d == d.toFloat.toDouble => Some(d.toFloat)
      case DateType if whole && d >= Int.MinValue && d <= Int.MaxValue => Some(d.toInt)
      case TimestampType if whole => Some(d.toLong)
      case _ => None
    }
  }

  private def rewrite(a: Aggregate, aggs: Seq[NamedExpression],
      t: SnapshotTableV2, cond: Option[Expression]): Option[LogicalPlan] = {
    val st = t.tables
    val table = t.tableName
    val ver = t.pinnedVersionNumber
    // a predicate is only admissible as identity-partition equalities
    // over a layout every chain segment shares (X114)
    val partTokens: Seq[String] = cond match {
      case None => Nil
      case Some(c) =>
        val idCols = st.uniformIdentityLayout(table, ver)
        if (idCols.isEmpty) return None
        partitionTokens(c, idCols.toSet).getOrElse(return None)
    }
    lazy val rowCount: Option[Long] =
      if (partTokens.isEmpty) st.fastCountForScan(table, ver)
      else st.manifestRowsForScan(table, ver, partTokens)
    val statCache = scala.collection.mutable.Map.empty[String, Option[SnapshotTables.ColStats]]
    def colStats(c: String): Option[SnapshotTables.ColStats] =
      statCache.getOrElseUpdate(c, st.manifestStatsForScan(table, ver, c, partTokens))

    def extremum(attr: AttributeReference,
        f: SnapshotTables.ColStats => Option[Option[Double]]): Option[Any] =
      colStats(attr.name).flatMap(f).flatMap {
        case None => Some(null) // exactly all-NULL column: the extremum IS NULL
        case Some(d) => numFromDouble(d, attr.dataType)
      }

    def aggValue(ae: AggregateExpression): Option[Any] =
      if (ae.isDistinct || ae.filter.isDefined) None
      else ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null => rowCount // count(*) / count(1)
        case Count(Seq(attr: AttributeReference)) =>
          if (!attr.nullable) rowCount
          else colStats(attr.name).flatMap(s => for { r <- s.rows; n <- s.nulls } yield r - n)
        case Min(attr: AttributeReference) => extremum(attr, _.min)
        case Max(attr: AttributeReference) => extremum(attr, _.max)
        case _ => None
      }

    def outValue(ne: NamedExpression): Option[Any] = ne match {
      case Alias(ae: AggregateExpression, _) => aggValue(ae)
      case Alias(l: Literal, _) => Some(l.value) // constants ride along
      case _ => None
    }

    val vals = aggs.map(outValue)
    if (vals.exists(_.isEmpty)) None
    else Some(LocalRelation(a.output, Seq(InternalRow.fromSeq(vals.map(_.get)))))
  }
}
