package graft.catalog

import graft.io.SnapshotTables
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType}

/** The catalog's maintenance surface as SQL `CALL` procedures —
  * Iceberg's own shape (`CALL cat.system.rollback_to_snapshot(...)`,
  * `rewrite_data_files`, `fast_forward`; the reference registers
  * Iceberg catalogs, so these are the commands its operators actually
  * run). Registered under the `system` namespace by
  * [[SnapshotCatalog.loadProcedure]]:
  *
  *  - `rollback(table, version)` — re-commit a retained version's
  *    content as a NEW version (never history rewrite);
  *    [[SnapshotTables.rollback]]
  *  - `create_branch(table, branch)` / `drop_branch(table, branch)` —
  *    fork / discard a WAP branch (zero-copy ref; staged content is
  *    readable as `SELECT ... VERSION AS OF '<branch>'`);
  *    [[SnapshotTables.createBranch]] / [[SnapshotTables.dropBranch]]
  *  - `fast_forward(table, branch)` — publish a WAP branch to main;
  *    [[SnapshotTables.publish]]
  *  - `create_tag`/`drop_tag(table, tag[, version])` — immutable named
  *    version pins (X116): `VERSION AS OF '<tag>'` reads, expiry
  *    protection for the tag's lifetime; [[SnapshotTables.createTag]]
  *  - `optimize(table, zorder_cols, target_file_mb)` — compaction /
  *    z-order clustering as one committed version; empty `zorder_cols`
  *    → plain per-partition compaction; [[SnapshotTables.optimize]] /
  *    [[SnapshotTables.compact]]
  *  - `compact_deltas(table)` — MINOR compaction: fold the delta
  *    chain into one equivalent segment at O(Σ deltas), base
  *    untouched (returns folded=0 when there is nothing to fold or
  *    the chain is unfoldable); [[SnapshotTables.compactDeltas]]
  *  - `evolve_partitioning(table, spec)` — partition-spec EVOLUTION
  *    (metadata-only, Iceberg's shape: old data keeps its layout, new
  *    commits derive the new one); spec grammar `days:ts,bucket8:id,
  *    trunc6:name`, empty to drop; [[SnapshotTables.evolvePartitioning]]
  *  - `expire_snapshots(table, older_than, retain_last)` — AGE-based
  *    history expiry (Iceberg's shape; `older_than` a SQL timestamp
  *    literal on the `.history` clock, newest `retain_last` + current +
  *    branch bases + chain ancestors always survive);
  *    [[SnapshotTables.expireSnapshots]]
  *  - `remove_orphan_files(table, grace_minutes)` — delete crash/
  *    lost-race debris no commit references (stale staging dirs,
  *    meta-less version dirs past the grace, manifests whose version
  *    is gone); [[SnapshotTables.removeOrphans]]
  *  - `expire_log(keep)` — prune the governed catalog's commit log
  *    (governed catalogs only); [[graft.io.CommitLog.expireLog]]
  *  - `export_iceberg_metadata(table, dest)` — materialize Iceberg v2
  *    metadata (JSON + Avro manifest lists/manifests) over the table's
  *    existing parquet at `dest`, O(metadata), data untouched;
  *    [[graft.io.IcebergExport.export]]
  *  - `publish_branches(tables, branch)` — cross-table ATOMIC publish
  *    of per-table WAP branches through the commit log (governed
  *    catalogs only); [[graft.io.LakeCommits.publishBranches]]
  *  - `iceberg_rename_column/add_column/drop_column/promote_column
  *    (dir, ...)` — metadata-only schema evolution on a FOREIGN
  *    Iceberg table by path ([[graft.io.IcebergEvolve]]); returns the
  *    new metadata version
  *  - `iceberg_compact(dir, target_files)` / `iceberg_expire_snapshots
  *    (dir, keep_last, remove_orphans)` — foreign-table maintenance
  *    ([[graft.io.IcebergMaintenance]]): REPLACE-snapshot compaction
  *    folding row-level deletes; history expiry with orphan inventory
  *  - `iceberg_append(dir, query)` — append a SQL query's result to a
  *    foreign Iceberg table as one spec-shaped snapshot
  *    ([[graft.io.IcebergAppend]]); returns the snapshot id
  *
  * `table` arguments are namespace-qualified WITHIN the catalog
  * (`'dw.t'`); `tables` is a comma-separated list of the same. Each
  * mutating procedure returns the resulting version(s) as rows, and on
  * log-governed catalogs publishes through the commit log exactly like
  * the SQL DML path (read-your-writes). Results are driver-sized
  * (version ints), never data. */
private[catalog] object SnapshotProcedures {

  val Names: Seq[String] =
    Seq("rollback", "create_branch", "drop_branch", "create_tag", "drop_tag",
      "fast_forward", "optimize",
      "compact_deltas", "evolve_partitioning",
      "expire_snapshots", "remove_orphan_files", "expire_log", "publish_branches",
      "export_iceberg_metadata",
      // FOREIGN Iceberg tables, addressed by PATH (the jar-free bridge:
      // evolution X125, maintenance X128) — these don't touch this
      // catalog's tables, the catalog is only the SQL `CALL` mount point
      "iceberg_rename_column", "iceberg_add_column", "iceberg_drop_column",
      "iceberg_promote_column", "iceberg_compact", "iceberg_expire_snapshots",
      "iceberg_append", "iceberg_delete_where", "iceberg_update", "iceberg_upsert",
      "iceberg_create_branch", "iceberg_fast_forward")

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def paramD(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** One-row, integer-columns result scan. */
  private def result(schema: StructType, values: Int*): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(InternalRow(values: _*))
      override def readSchema(): StructType = schema
    }).iterator()

  private def outSchema(cols: String*): StructType =
    cols.foldLeft(new StructType())((s, c) => s.add(c, IntegerType, nullable = false))

  /** The current metadata version of a FOREIGN Iceberg table (its
    * version-hint after a metadata-only commit). */
  private def hintOf(spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, "metadata/version-hint.text")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
  }

  def load(cat: SnapshotCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")) && Names.contains(ident.name),
      s"unknown procedure ${ident.namespace.mkString(".")}.${ident.name} — " +
        s"available: ${Names.map("system." + _).mkString(", ")}")

    def tablesOf(qualified: String): (SnapshotTables, String) = {
      val parts = qualified.split('.')
      require(parts.length >= 2,
        s"'$qualified' must be a namespace-qualified table within catalog '${cat.name()}' (want ns.table)")
      (cat.tablesFor(parts.dropRight(1)), parts.last)
    }

    def governed: graft.io.LakeCommits = cat.lake.getOrElse(throw new IllegalStateException(
      s"catalog '${cat.name()}' is not log-governed (set spark.sql.catalog.${cat.name()}.commitlog)"))

    def publishThrough(st: SnapshotTables, table: String): Unit =
      cat.lake.foreach(_.publishExact(Seq((st, table, st.currentVersion(table)))))

    new UnboundProcedure { unbound =>
      override def name(): String = ident.name
      override def description(): String = s"graft snapshot maintenance: ${ident.name}"

      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = unbound.name()
        override def description(): String = unbound.description()
        override def isDeterministic: Boolean = false

        override def parameters(): Array[ProcedureParameter] = ident.name match {
          case "rollback" => Array(param("table", StringType), param("version", IntegerType))
          case "create_branch" | "drop_branch" | "fast_forward" =>
            Array(param("table", StringType), param("branch", StringType))
          case "create_tag" => Array(param("table", StringType), param("tag", StringType),
            paramD("version", IntegerType, "0")) // 0: tag the current version
          case "drop_tag" => Array(param("table", StringType), param("tag", StringType))
          case "optimize" => Array(param("table", StringType),
            paramD("zorder_cols", StringType, "''"), paramD("target_file_mb", IntegerType, "128"))
          case "compact_deltas" => Array(param("table", StringType),
            paramD("tier_mb", IntegerType, "0")) // >0: size-tiered fold (X115)
          case "evolve_partitioning" =>
            Array(param("table", StringType), param("spec", StringType))
          case "expire_snapshots" => Array(param("table", StringType),
            param("older_than", StringType), paramD("retain_last", IntegerType, "1"),
            paramD("branch", StringType, "''"))
          case "remove_orphan_files" => Array(param("table", StringType),
            paramD("grace_minutes", IntegerType, "60"), paramD("branch", StringType, "''"))
          case "expire_log" => Array(param("keep", IntegerType))
          case "publish_branches" => Array(param("tables", StringType), param("branch", StringType))
          case "export_iceberg_metadata" =>
            Array(param("table", StringType), param("dest", StringType))
          case "iceberg_rename_column" =>
            Array(param("dir", StringType), param("from", StringType), param("to", StringType))
          case "iceberg_add_column" | "iceberg_promote_column" =>
            Array(param("dir", StringType), param("column", StringType), param("type", StringType))
          case "iceberg_drop_column" =>
            Array(param("dir", StringType), param("column", StringType))
          case "iceberg_compact" =>
            Array(param("dir", StringType), paramD("target_files", IntegerType, "4"))
          case "iceberg_expire_snapshots" =>
            Array(param("dir", StringType), paramD("keep_last", IntegerType, "1"),
              paramD("remove_orphans", BooleanType, "false"))
          case "iceberg_append" =>
            Array(param("dir", StringType), param("query", StringType))
          case "iceberg_delete_where" =>
            Array(param("dir", StringType), param("predicate", StringType),
              paramD("equality_cols", StringType, "''"))
          case "iceberg_update" =>
            // assignments: ';'-separated `col = <sql expr>` pairs (',' may
            // appear inside expressions, so it cannot be the separator)
            Array(param("dir", StringType), param("predicate", StringType),
              param("assignments", StringType))
          case "iceberg_upsert" =>
            Array(param("dir", StringType), param("query", StringType),
              param("keys", StringType))
          case "iceberg_create_branch" =>
            Array(param("dir", StringType), param("branch", StringType))
          case "iceberg_fast_forward" =>
            Array(param("dir", StringType), param("branch", StringType))
        }

        override def call(input: InternalRow): java.util.Iterator[Scan] = ident.name match {
          case "rollback" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val to = input.getInt(1)
            st.rollback(t, to, st.currentPartitionCols(t))
            publishThrough(st, t)
            result(outSchema("restored_version", "current_version"), to, st.currentVersion(t))
          case "create_branch" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            st.createBranch(t, input.getUTF8String(1).toString)
            result(outSchema("base_version"),
              st.branchBase(t, input.getUTF8String(1).toString))
          case "drop_branch" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            st.dropBranch(t, input.getUTF8String(1).toString)
            result(outSchema("current_version"), st.currentVersion(t))
          case "create_tag" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val tag = input.getUTF8String(1).toString
            val v = if (input.numFields > 2 && !input.isNullAt(2)) input.getInt(2) else 0
            st.createTag(t, tag, if (v > 0) Some(v) else None)
            result(outSchema("tagged_version"), st.tagVersion(t, tag))
          case "drop_tag" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            st.dropTag(t, input.getUTF8String(1).toString)
            result(outSchema("current_version"), st.currentVersion(t))
          case "fast_forward" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val v = st.publish(t, input.getUTF8String(1).toString)
            publishThrough(st, t)
            result(outSchema("current_version"), v)
          case "optimize" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val zcols = input.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            val target = input.getInt(2).toLong << 20
            if (zcols.nonEmpty) st.optimize(t, zcols, target)
            else st.compact(t, st.currentPartitionCols(t), target)
            publishThrough(st, t)
            result(outSchema("current_version"), st.currentVersion(t))
          case "compact_deltas" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val tierMb = if (input.numFields > 1 && !input.isNullAt(1)) input.getInt(1) else 0
            // tier_mb > 0: LSM size-tiered fold — only the newest run
            // of sub-tier appends rewrites, larger folds stay untouched
            val folded =
              if (tierMb > 0) st.compactDeltasTiered(t, tierMb.toLong << 20)
              else st.compactDeltas(t)
            // a fold commits a new (content-identical) version; the
            // publish-through keeps governed readers pinned to it
            if (folded) publishThrough(st, t)
            result(outSchema("folded", "current_version"),
              if (folded) 1 else 0, st.currentVersion(t))
          case "evolve_partitioning" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            // spec uses the persisted transform grammar: "days:ts,
            // bucket8:id,trunc6:name"; '' drops hidden partitioning.
            // Metadata-only — no new version, no data rewritten; the
            // NEXT commit lays out under the new spec.
            val spec = input.getUTF8String(1).toString.trim
            val ts =
              if (spec.isEmpty) Nil
              else graft.io.SnapshotTables.PartitionTransform.parseSpec(spec)
            st.evolvePartitioning(t, ts)
            result(outSchema("transforms"), ts.length)
          case "expire_snapshots" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            // older_than: SQL timestamp literal text, the same wall
            // clock .history / TIMESTAMP AS OF report
            val cutoff = java.sql.Timestamp.valueOf(input.getUTF8String(1).toString).getTime
            // branch-addressed: expire the BRANCH's own version line
            // (its base on main stays protected by the ref, and main's
            // line is untouched) — Iceberg's per-ref expiry
            val branch = input.getUTF8String(3).toString.trim
            if (branch.isEmpty) {
              val expired = st.expireSnapshots(t, cutoff, input.getInt(2))
              result(outSchema("expired_versions", "retained_versions"),
                expired, st.history(t).length)
            } else {
              require(st.branches(t).contains(branch),
                s"no branch '$branch' on table '$t' — have: ${st.branches(t).mkString(", ")}")
              val bt = st.branchTablesFor(t)
              val expired = bt.expireSnapshots(branch, cutoff, input.getInt(2))
              result(outSchema("expired_versions", "retained_versions"),
                expired, bt.history(branch).length)
            }
          case "remove_orphan_files" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val branch = input.getUTF8String(2).toString.trim
            if (branch.isEmpty) {
              val (d, mfs) = st.removeOrphans(t, input.getInt(1) * 60L * 1000L)
              result(outSchema("orphan_dirs", "orphan_manifests"), d, mfs)
            } else {
              // branch-addressed: sweep the branch line's own staging /
              // crash debris. Pool-dir reachability still checks MAIN's
              // and every branch's metas (poolDirReferenced derives the
              // owner from the pool path), so a branch sweep can never
              // reclaim a dir another line references.
              require(st.branches(t).contains(branch),
                s"no branch '$branch' on table '$t' — have: ${st.branches(t).mkString(", ")}")
              val (d, mfs) = st.branchTablesFor(t)
                .removeOrphans(branch, input.getInt(1) * 60L * 1000L)
              result(outSchema("orphan_dirs", "orphan_manifests"), d, mfs)
            }
          case "expire_log" =>
            val lc = governed
            lc.expireLog(input.getInt(0))
            result(outSchema("head_commit"), lc.headCommit)
          case "publish_branches" =>
            val lc = governed
            val branch = input.getUTF8String(1).toString
            val staged = input.getUTF8String(0).toString.split(',').map(_.trim).filter(_.nonEmpty)
              .map { q => val (st, t) = tablesOf(q); (st, t, branch) }.toSeq
            require(staged.nonEmpty, "publish_branches: empty table list")
            val c = lc.publishBranches(staged)
            result(outSchema("commit"), c)
          case "export_iceberg_metadata" =>
            val (st, t) = tablesOf(input.getUTF8String(0).toString)
            val path = graft.io.IcebergExport.export(st, t, input.getUTF8String(1).toString)
            val schema = new StructType().add("metadata_path", StringType, nullable = false)
            java.util.List.of[Scan](new LocalScan {
              override def rows(): Array[InternalRow] =
                Array(InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(path)))
              override def readSchema(): StructType = schema
            }).iterator()

          // ---- FOREIGN Iceberg tables by path (evolution/maintenance)
          case "iceberg_rename_column" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.renameColumn(spark, dir,
              input.getUTF8String(1).toString, input.getUTF8String(2).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
          case "iceberg_add_column" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.addColumn(spark, dir,
              input.getUTF8String(1).toString, input.getUTF8String(2).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
          case "iceberg_promote_column" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.promoteColumn(spark, dir,
              input.getUTF8String(1).toString, input.getUTF8String(2).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
          case "iceberg_drop_column" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.dropColumn(spark, dir, input.getUTF8String(1).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
          case "iceberg_compact" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val snap = graft.io.IcebergMaintenance.compact(spark,
              input.getUTF8String(0).toString, input.getInt(1))
            val schema = new StructType().add("snapshot_id", LongType, nullable = false)
            java.util.List.of[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = Array(InternalRow(snap))
              override def readSchema(): StructType = schema
            }).iterator()
          case "iceberg_append" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val snap = graft.io.IcebergAppend.append(spark,
              input.getUTF8String(0).toString,
              spark.sql(input.getUTF8String(1).toString))
            val schema = new StructType().add("snapshot_id", LongType, nullable = false)
            java.util.List.of[Scan](new LocalScan {
              override def rows(): Array[InternalRow] = Array(InternalRow(snap))
              override def readSchema(): StructType = schema
            }).iterator()
          case "iceberg_expire_snapshots" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val remove = input.getBoolean(2)
            val orphans = graft.io.IcebergMaintenance.expireSnapshots(spark,
              input.getUTF8String(0).toString, input.getInt(1), removeOrphans = remove)
            result(outSchema("orphans_found", "orphans_removed"),
              orphans.size, if (remove) orphans.size else 0)

          // ---- FOREIGN Iceberg row-level DML + branches (X129/X130)
          case "iceberg_delete_where" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val eqCols = input.getUTF8String(2).toString
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
            val snap = graft.io.IcebergDml.deleteWhere(spark,
              input.getUTF8String(0).toString, input.getUTF8String(1).toString, eqCols)
            longResult("snapshot_id", snap.getOrElse(-1L))
          case "iceberg_update" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val assigns = input.getUTF8String(2).toString
              .split(';').map(_.trim).filter(_.nonEmpty).map { a =>
                val i = a.indexOf('=')
                require(i > 0, s"assignment '$a' must be 'col = <sql expr>'")
                a.substring(0, i).trim -> a.substring(i + 1).trim
              }.toMap
            val snap = graft.io.IcebergDml.update(spark,
              input.getUTF8String(0).toString, input.getUTF8String(1).toString, assigns)
            longResult("snapshot_id", snap.getOrElse(-1L))
          case "iceberg_upsert" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val keys = input.getUTF8String(2).toString
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
            val snap = graft.io.IcebergDml.upsert(spark,
              input.getUTF8String(0).toString,
              spark.sql(input.getUTF8String(1).toString), keys)
            longResult("snapshot_id", snap)
          case "iceberg_create_branch" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.createBranch(spark, dir, input.getUTF8String(1).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
          case "iceberg_fast_forward" =>
            val spark = org.apache.spark.sql.SparkSession.active
            val dir = input.getUTF8String(0).toString
            graft.io.IcebergEvolve.fastForward(spark, dir, input.getUTF8String(1).toString)
            result(outSchema("metadata_version"), hintOf(spark, dir))
        }

        private def longResult(name: String, v: Long): java.util.Iterator[Scan] = {
          val schema = new StructType().add(name, LongType, nullable = false)
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = Array(InternalRow(v))
            override def readSchema(): StructType = schema
          }).iterator()
        }
      }
    }
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty
}
