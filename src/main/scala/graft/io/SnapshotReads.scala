package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The read side of [[SnapshotTables]]: chain resolution and every route
  * from a version's files to a DataFrame. */
private[io] trait SnapshotReads { self: SnapshotTables =>
  import SnapshotTables.VersionMeta
  import SnapshotReads.{ChainDir, ChainScan}

  /** THE read path: version `v`'s chain as every route from its files
    * to a DataFrame takes it — [[readVersion]], the SQL scan
    * ([[graft.catalog.SnapshotTableV2]], and
    * [[graft.plans.DeltaResolveRule]] for chains it cannot scan
    * directly), the hidden-partition and manifest-pruned readers, folds
    * and CDC:
    *  - `dirs`: the chain's data dirs that hold data files, one per
    *    (segment, side) ([[dirsOf]]), each read with its [[filesSchema]]
    *    or else with the schema its footers give — inferred here, once
    *    per dir state ([[cachedParquet]]), and nowhere else;
    *  - `schema`: the row dirs' schemas widened as their union widens
    *    them, `__p_*` layout columns concealed; for a schema-evolved
    *    chain, the declared names and order, a declared column the files
    *    hold typed as that union types it; when no dir holds data,
    *    the version meta's schema (else the DDL declaration's);
    *  - `direct`: an append-only chain whose dirs are one, or
    *    unpartitioned and of one read schema, reads as ONE multi-dir
    *    parquet scan. Every other chain resolves ([[resolve]]): a
    *    multi-root scan of partitioned layouts trips Spark's
    *    conflicting-directory check, a scan of dirs of other types fails
    *    on the narrower files, and merge-on-read segments need anti-join
    *    resolution. */
  private[graft] def chainScan(table: String, v: Int): ChainScan = {
    val segs = chainOf(table, v)
    val dirs = segs.flatMap(dirsOf(table, _))
    val evolved = segs.exists(_.schemaEvolved)
    val appendOnly = !evolved && segs.forall(s => s.kind == "full" || s.kind == "append")
    def concealed(s: StructType) = StructType(s.filterNot(_.name.startsWith("__p_")))
    val recorded = structOf(segs.last.schema).map(s => SnapshotTables.nullable(concealed(s)))
    val rowSchemas = dirs.filter(_.holdsRows).map(d => concealed(d.schema))
    val rowSchema = Option.when(rowSchemas.nonEmpty)(widened(rowSchemas))
    // an evolved chain keeps its declared names and order, but a column
    // the files hold keeps the type their union widens it to: a delta of
    // wider types than the declaration's is never narrowed back to it
    val schema = recorded.filter(_ => evolved)
      .map(declared => StructType(declared.map(f =>
        rowSchema.flatMap(_.find(_.name == f.name)).getOrElse(f))))
      .orElse(rowSchema)
      .orElse(recorded)
      .orElse(declaredSchema(table).map(SnapshotTables.nullable))
      .getOrElse(new StructType())
    val direct = appendOnly && (dirs.length <= 1 ||
      (dirs.map(_.schema).distinct.length == 1 && dirs.forall(_.seg.partitionCols.isEmpty)))
    ChainScan(segs, dirs, schema, appendOnly, direct)
  }

  /** The dirs of segment `m` that hold data files: its data dir, or
    * the `del/` and `add/` sides of a patch or fold. A dir with no data
    * files — a zero-row write that left only `_SUCCESS`, TRUNCATE of a
    * partitioned table, a schema-evolution commit, an absent side — is
    * left out, and reads as no rows. A segment whose data dir is
    * missing throws: a retained version's data never reads as empty. */
  private[io] def dirsOf(table: String, m: VersionMeta): Seq[ChainDir] = {
    val d = dataDirOfMeta(table, m)
    val sides = if (m.kind == "mor_patch" || m.kind == "mor_revise") Seq("del", "add") else Seq("")
    val found = sides.flatMap { side =>
      val p = if (side.isEmpty) d else new Path(d, side)
      cachedParquet(p, filesSchema(m, side)).map(ChainDir(m, side, p, _))
    }
    if (found.isEmpty && !fs(d).exists(d))
      throw new java.io.FileNotFoundException(
        f"data dir $d of $table v${m.v}%05d is missing — the version cannot be read")
    found
  }

  /** Row schemas as a union of frames of those schemas widens them
    * (by name; types widen, nested struct fields align, missing
    * columns null-fill) — without building the frames when they agree. */
  private def widened(schemas: Seq[StructType]): StructType = schemas.distinct match {
    case Seq(one) => one
    case many => many.map(emptyFrame).reduce(_.unionByName(_, allowMissingColumns = true)).schema
  }

  private def emptyFrame(schema: StructType): DataFrame =
    sparkSession.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** One (modTime,len)-guarded resolve of a write-once parquet path
    * (segment data dir or stats manifest file) through the JVM-wide
    * [[SnapshotTables.relationCache]] — see its doc for why this can
    * never serve stale data. None = path absent or no data files.
    * `schema` is the read schema when the caller knows it (a segment
    * dir's [[filesSchema]]: no footer is opened), else the footers are
    * inferred; a path is cached in one form, and a call with the other
    * form replaces it. Callers: [[dirsOf]] for data dirs, the manifest
    * readers for stats manifests. */
  private[io] def cachedParquet(d: Path, schema: Option[StructType] = None): Option[DataFrame] = {
    val f = fs(d)
    val st =
      try f.getFileStatus(d)
      catch { case _: java.io.FileNotFoundException => null }
    if (st == null) return None
    val key = s"${System.identityHashCode(sparkSession)}|${f.makeQualified(d)}"
    val hit = SnapshotTables.relationCache.synchronized {
      Option(SnapshotTables.relationCache.get(key))
    }
    hit match {
      case Some((m, l, s, df)) if m == st.getModificationTime && l == st.getLen && s == schema => df
      case _ =>
        val v =
          try {
            val df = schema.fold(sparkSession.read)(sparkSession.read.schema(_)).parquet(d.toString)
            // a given schema skips inference, so a dir with no data files
            // shows only as an empty listing
            if (df.schema.isEmpty || df.inputFiles.isEmpty) None else Some(df)
          } catch {
            // footer inference over a dir with no data files; any other
            // failure (a path gone since the probe, an unreadable footer)
            // is not "empty" and propagates
            case e: org.apache.spark.sql.AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
          }
        SnapshotTables.relationCache.synchronized {
          SnapshotTables.relationCache.put(key, (st.getModificationTime, st.getLen, schema, v))
        }
        v
    }
  }

  /** Fold a chain into one resolved DataFrame plan — unions and
    * anti-joins over per-dir parquet scans, fully distributed. Unions
    * go by name with missing columns null-filled: chains carrying a
    * metadata-only schema evolution hold segments with heterogeneous
    * file schemas (older files lack added columns), which
    * [[readScan]] then conforms to the declared schema. */
  private def resolve(scan: ChainScan): DataFrame = {
    import org.apache.spark.sql.functions.col
    def union(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] = (a, b) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y, allowMissingColumns = true))
      case (None, y) => y
      case (x, None) => x
    }
    def withoutKeys(a: DataFrame, keyRows: Option[DataFrame], keyCols: Seq[String]): DataFrame =
      keyRows.fold(a)(k => a.join(k.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti"))
    val out = scan.segs.tail.foldLeft(scan.rows(scan.segs.head)) { (acc, s) =>
      s.kind match {
        case "append" => union(acc, scan.rows(s))
        case "mor_upsert" =>
          val up = scan.rows(s)
          union(acc.map(withoutKeys(_, up, s.keyCols)), up)
        case "mor_delete" => acc.map(withoutKeys(_, scan.rows(s), s.keyCols))
        case "mor_patch" =>
          val afterDel = acc.map(a => scan.rows(s, "del").fold(a)(graft.core.MapSafeSetOps.exceptAll(a, _)))
          union(afterDel, scan.rows(s, "add"))
        case "mor_revise" =>
          // minor compaction's folded segment: del/ holds KEY rows to
          // remove from the base, add/ the full replacement+appended
          // rows — (base ⟕̸ keys) ∪ add, the keyed generalization of
          // mor_upsert (add rows need not cover every deleted key)
          union(acc.map(withoutKeys(_, scan.rows(s, "del"), s.keyCols)), scan.rows(s, "add"))
        case other =>
          throw new IllegalStateException(s"unknown commit kind '$other' at v${s.v}")
      }
    }
    out.getOrElse(emptyFrame(scan.schema))
  }

  /** A chain scan's rows in its output schema: the resolved plan, with
    * its columns projected onto the declared schema where a schema
    * evolution made them differ — added columns read NULL, dropped ones
    * are projected away. */
  private[io] def readScan(scan: ChainScan): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = resolve(scan)
    if (df.schema == scan.schema) df
    else df.select(scan.schema.fields.toSeq.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (df.schema(f.name).dataType == f.dataType) col(f.name)
      else col(f.name).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The given data files of `dir` (a manifest-pruned file list, names
    * relative to it), read with its read schema. */
  private[io] def filesOf(dir: ChainDir, files: Seq[String]): DataFrame =
    sparkSession.read.schema(dir.schema).option("basePath", dir.path.toString)
      .parquet(files.map(n => new Path(dir.path, n).toString): _*)

  /** The read schema of the files in `m`'s data dir (`sub`: one side of
    * a patch), from the meta alone — no footer is opened. Every field is
    * nullable, as a file-source read makes it, and the layout's
    * partition columns keep their written types (Spark's partition-type
    * inference would re-type a string partition value that looks like a
    * number: "007" → 7). The recorded schema describes the files of a
    * full version (its written frame), and of a delta side written with
    * the table's layout — an append or mor_upsert dir, a mor_revise
    * `add/` — when the meta marks it so (`files_schema`, see
    * [[deltaSchema]]). None — infer from the footers — for a meta with
    * no recorded schema, for a delta meta without the mark (one whose
    * types differ from the table's, or written before the mark
    * existed), and for the other sides, which hold key rows or row
    * images written without a layout. */
  private def filesSchema(m: VersionMeta, sub: String = ""): Option[org.apache.spark.sql.types.StructType] =
    (m.kind, sub) match {
      case ("full", "") => structOf(m.schema).map(SnapshotTables.nullable)
      case ("append" | "mor_upsert", "") | ("mor_revise", "add") if m.schemaOfFiles =>
        structOf(m.schema).map(SnapshotTables.nullable)
      case _ => None
    }


  /** Read the current snapshot (partition discovery + pruning work as
    * on any partitioned parquet directory). */
  def read(table: String): DataFrame = readVersion(table, currentVersion(table))

  /** Time travel to any retained version. Hidden-partitioning columns
    * (`__p_*`, [[overwriteTableTransformed]]) are concealed — they are
    * directory layout, not data. Under a metadata-only schema evolution
    * the version's DECLARED schema is authoritative over what the files
    * happen to carry — per version, so prior versions keep their own
    * schema ([[chainScan]]). */
  def readVersion(table: String, version: Int): DataFrame = {
    require(version > 0, s"table $table has no committed version")
    readScan(chainScan(table, version))
  }

  /** The data schema a version's commit metadata declares (hidden
    * `__p_*` layout columns stripped); None when the meta is absent or
    * records no schema. */
  private[graft] def versionDataSchema(table: String, v: Int): Option[StructType] =
    readMeta(table, v).flatMap(m => structOf(m.schema))
      .map(s => StructType(s.filterNot(_.name.startsWith("__p_"))))

  private[io] def structOf(schemaJson: String): Option[StructType] =
    Option.when(schemaJson.nonEmpty)(org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType])

  /** Range scan over a hidden-partitioned table: the [lo, hi] bound on
    * the TRANSFORM'S SOURCE column is rewritten into a bound on the
    * derived partition values (evaluated with the very transform
    * expression the write used — one 1-row driver job), so Spark's
    * partition-directory pruning applies before any file is opened.
    * The caller still filters rows: transform granularity is coarser
    * than the data (a day partition keeps whole days). Ordered
    * transforms only (days/truncate); buckets don't order — use
    * [[readPartitionValues]]. */
  def readPartitionRange(table: String, pt: SnapshotTables.PartitionTransform,
      lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(pt.ordered, s"${pt.name} does not preserve order — use readPartitionValues")
    val bounds = sparkSession.range(1).select(pt.exprOf(lit(lo)), pt.exprOf(lit(hi))).head()
    partitionScan(table, pt)(c => c >= lit(bounds.get(0)) && c <= lit(bounds.get(1)))
  }

  /** Point/IN scan over a hidden-partitioned table: each probe value
    * maps through the transform (any transform, buckets included) and
    * only matching partition directories are read. */
  def readPartitionValues(table: String, pt: SnapshotTables.PartitionTransform,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(values.nonEmpty, "readPartitionValues needs at least one probe value")
    val derived = sparkSession.range(1).select(values.map(pv => pt.exprOf(lit(pv))): _*)
      .head().toSeq.distinct
    partitionScan(table, pt)(_.isin(derived: _*))
  }

  /** The current version's rows whose transform value passes `keep`.
    * An append-only chain reads per dir (each root discovers its own
    * partition dirs — Spark refuses mixed multi-root layouts), filtered
    * BEFORE the union so directory pruning applies per dir: on the
    * derived column where the dir was written under this transform, on
    * the re-derived value where it was not. A merge-on-read chain
    * filters its RESOLVED rows — directory skipping would resurrect
    * deleted rows (same rows, no pruning until materialize). */
  private def partitionScan(table: String, pt: SnapshotTables.PartitionTransform)(
      keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val scan = chainScan(table, currentVersion(table))
    if (!scan.appendOnly) readScan(scan).filter(keep(pt.expr))
    else if (scan.dirs.isEmpty) readScan(scan)
    else scan.dirs.map { d =>
      val derived = d.raw.columns.contains(pt.name)
      d.copy(raw = d.raw.filter(keep(if (derived) org.apache.spark.sql.functions.col(pt.name) else pt.expr))).rows
    }.reduce(_ unionByName _)
  }
}

private[graft] object SnapshotReads {
  import SnapshotTables.VersionMeta

  /** One data dir of a version's chain that holds data files: a
    * segment's dir (`side` "") or one side ("del"/"add") of a patch or
    * fold. `raw` is its read, `__p_*` layout columns kept (the
    * hidden-partition readers filter on them); its schema is the dir's
    * read schema. */
  final case class ChainDir(seg: VersionMeta, side: String, path: Path, raw: DataFrame) {
    def schema: StructType = raw.schema

    /** The dir's rows, `__p_*` layout columns concealed. */
    def rows: DataFrame = {
      val hidden = raw.columns.filter(_.startsWith("__p_"))
      if (hidden.isEmpty) raw else raw.drop(hidden: _*)
    }

    /** Whether the dir holds row images (a full, append or upsert dir, a
      * patch's two sides, a fold's `add/`), not key rows (a delete's
      * dir, a fold's `del/`): only row images shape the version's
      * schema. */
    def holdsRows: Boolean = side match {
      case "" => seg.kind != "mor_delete"
      case "del" => seg.kind == "mor_patch"
      case _ => true
    }
  }

  object ChainDir {
    /** The rows of the `side` dir among one segment's `dirs`; None when
      * that side holds no data files. */
    def rowsOf(dirs: Seq[ChainDir], side: String = ""): Option[DataFrame] =
      dirs.find(_.side == side).map(_.rows)
  }

  /** A version's chain as every read sees it (`SnapshotTables.chainScan`):
    * `segs`, its segments in chain order; `dirs`, their dirs that hold
    * data files; `schema`, the output schema of any read of the
    * version; `appendOnly`, no merge-on-read segment and no schema
    * evolution, so the dirs' rows union to the version; `direct`, the
    * dirs read as ONE multi-dir parquet scan. */
  final case class ChainScan(segs: Seq[VersionMeta], dirs: Seq[ChainDir], schema: StructType,
      appendOnly: Boolean, direct: Boolean) {

    /** One segment side's rows; None when it holds no data files. */
    def rows(seg: VersionMeta, side: String = ""): Option[DataFrame] =
      ChainDir.rowsOf(dirs.filter(_.seg.v == seg.v), side)

    /** A segment's own dir ("" side), when it holds data files. */
    def dir(seg: VersionMeta): Option[ChainDir] =
      dirs.find(d => d.seg.v == seg.v && d.side.isEmpty)
  }
}
