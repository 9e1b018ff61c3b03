package graft

import graft.functions.VecDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}

/** Catalyst extension point for the engine's custom expressions —
  * activate with `spark.sql.extensions=graft.GraftExtensions` (done by
  * GraftSession.builder), which makes them usable from SQL text, not
  * just the Column API:
  *
  *   SELECT vec_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT doc_id FROM docs WHERE graft_lang_id(text) = 'en'
  *
  * Registered functions (all codegen'd — `vec_norm`/`vec_cosine`
  * compose built-in Sqrt/Divide around the custom [[graft.functions.VecDot]];
  * the `graft_*` text functions expand the [[graft.functions.TextFunctions]]
  * Column combinators into their built-in-expression trees at
  * registration, so SQL users get the identical semantics the Scala
  * API — and every DuckDB oracle — pins):
  *  - `vec_dot(array<float|double>, array<float|double>) -> double`
  *  - `vec_norm(vec) -> double` — L2 norm
  *  - `vec_cosine(a, b) -> double` — cosine similarity
  *  - `graft_lang_id(text) -> string` — stopword-marker language ID
  *  - `graft_quality_score(text) -> double` — composite quality score
  *  - `graft_normalize_text(text) -> string` — pre-dedup canonicalization
  *  - `graft_token_count(text) -> int`
  *  - `graft_stopword_ratio(text) -> double`
  *
  * Registered TABLE functions: `graft_table_changes('cat.ns.t', from,
  * to[, 'k1,k2'])` — version-to-version CDC over snapshot-catalog
  * tables ([[graft.plans.TableChanges]]) — and
  * `graft_table_manifest('cat.ns.t')` — the per-file stats manifest as
  * a relation ([[graft.plans.TableManifest]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def normExpr(v: Expression): Expression = Sqrt(VecDot(v, v))

  /** Lift a Column combinator into an Expression factory via the
    * package bridge: the combinator's column tree is EAGERLY expanded
    * into plain catalyst expressions (analyzer-resolvable — the lazy
    * wrapper would reach codegen unresolved), so SQL callers get the
    * identical, fully codegen'd tree the Column API builds. */
  private def lift1(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)(
      children: Seq[Expression]): Expression =
    org.apache.spark.sql.GraftSqlBridge.eagerExpression(
      f(org.apache.spark.sql.GraftSqlBridge.column(children.head)))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // keyless BETWEEN time joins -> bucketed equi-joins (never BNLJ)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // metadata-only COUNT/MIN/MAX over snapshot-catalog tables (X113):
    // grouping-less aggregates provably answerable from the per-file
    // stats manifests collapse to a LocalRelation — zero data files.
    // MUST be injected BEFORE ScanPruneRule: both run in the same
    // fixed-point batch in injection order, and once ScanPrune
    // substitutes its alias-projection scan the Aggregate's child no
    // longer matches MetadataAgg's admissible shape — the cheaper
    // manifest-only answer has to get first look at the plan.
    ext.injectOptimizerRule(_ => graft.plans.MetadataAggRule)
    // manifest file skipping for SQL scans of snapshot-catalog tables
    // (X112): pushed-down predicates consult the per-file stats/sketch
    // manifests at planning time and the scan reads only files that
    // may match — Iceberg's scan planning, on the native format
    ext.injectOptimizerRule(_ => graft.plans.ScanPruneRule)
    // import-side twin: manifest file skipping for graft_iceberg_scan
    ext.injectOptimizerRule(_ => graft.plans.IcebergScanPruneRule)
    // AQE runtime: a small materialized ORDER BY input sorts in one
    // task — no range-bounds sampling job, no range shuffle
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortRule)
    // merge-on-read delta chains -> resolved scan plans (before the
    // DML rule so a MERGE source over a chained table resolves first)
    ext.injectResolutionRule(_ => graft.plans.DeltaResolveRule)
    // SQL DELETE/UPDATE/MERGE over SnapshotCatalog tables -> the
    // snapshot layer's copy-on-write OR merge-on-read commits
    ext.injectResolutionRule(_ => graft.plans.SnapshotDmlRule)
    // foreign Iceberg warehouse mounts (IcebergWarehouseCatalog):
    // reads substitute the jar-free import's plan; DELETE/UPDATE route
    // onto IcebergDml's spec-shaped merge-on-read commits
    ext.injectResolutionRule(_ => graft.plans.IcebergForeignRule)
    // CDC between snapshot versions as a table-valued function:
    // SELECT * FROM graft_table_changes('cat.ns.t', 1, 3 [, 'k1,k2'])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(graft.plans.TableChanges.getClass.getName, "graft_table_changes"),
      (children: Seq[Expression]) => graft.plans.TableChanges.plan(children)
    ))
    // per-file stats manifest as a relation:
    // SELECT * FROM graft_table_manifest('cat.ns.t')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_table_manifest"),
      new ExpressionInfo(graft.plans.TableManifest.getClass.getName, "graft_table_manifest"),
      (children: Seq[Expression]) => graft.plans.TableManifest.plan(children)
    ))
    // jar-free read of an external Iceberg table layout:
    // SELECT * FROM graft_iceberg_scan('/path/to/table'[, snapshot_id])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_scan"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_scan"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.plan(children)
    ))
    // v3 row-lineage scan (X146) — rows plus _row_id /
    // _last_updated_sequence_number per the spec's inheritance rules:
    // SELECT * FROM graft_iceberg_lineage_scan('/path'[, snapshot_id])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_lineage_scan"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_lineage_scan"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.lineagePlan(children)
    ))
    // metadata-table twins for foreign Iceberg layouts (.files / .snapshots):
    // SELECT * FROM graft_iceberg_files('/path'[, snapshot_id])
    // SELECT * FROM graft_iceberg_snapshots('/path')
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_files"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_files"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.filesPlan(children)
    ))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_snapshots"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_snapshots"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.snapshotsPlan(children)
    ))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_refs"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_refs"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.refsPlan(children)
    ))
    // incremental append scan over a foreign Iceberg table:
    // SELECT * FROM graft_iceberg_appends('/path', from_snap[, to_snap])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_appends"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_appends"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.appendsPlan(children)
    ))
    // changelog (CDC) scan over a foreign Iceberg table — the range
    // shapes the appends face refuses, as _change_type rows:
    // SELECT * FROM graft_iceberg_changes('/path', from_snap[, to_snap])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_changes"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_changes"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.changesPlan(children)
    ))
    // .partitions metadata twin (completes the metadata quartet):
    // SELECT * FROM graft_iceberg_partitions('/path'[, snapshot_id])
    ext.injectTableFunction((
      new FunctionIdentifier("graft_iceberg_partitions"),
      new ExpressionInfo(graft.plans.IcebergScan.getClass.getName, "graft_iceberg_partitions"),
      (children: Seq[Expression]) => graft.plans.IcebergScan.partitionsPlan(children)
    ))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))
    ))
    ext.injectFunction((
      new FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_norm"),
      (children: Seq[Expression]) => normExpr(children.head)
    ))
    ext.injectFunction((
      new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_cosine"),
      (children: Seq[Expression]) =>
        Divide(VecDot(children.head, children(1)),
          Multiply(normExpr(children.head), normExpr(children(1))))
    ))
    import graft.functions.TextFunctions
    val textFns: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "graft_lang_id" -> TextFunctions.langId,
      "graft_quality_score" -> TextFunctions.qualityScore,
      "graft_normalize_text" -> TextFunctions.normalizeText,
      "graft_token_count" -> TextFunctions.tokenCount,
      "graft_stopword_ratio" -> TextFunctions.stopwordRatio
    )
    textFns.foreach { case (name, f) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(TextFunctions.getClass.getName, name),
        lift1(f) _
      ))
    }
  }
}
