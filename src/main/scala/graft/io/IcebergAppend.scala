package graft.io

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Jar-free APPEND COMMIT to a FOREIGN Iceberg v2 table — the fourth
  * quadrant of the interop bridge (read foreign: [[IcebergImport]];
  * write own as Iceberg: [[IcebergExport]]; evolve foreign:
  * [[IcebergEvolve]]). A migrating user's tables stay `USING ICEBERG`
  * (the reference's are, `/root/reference/spark/jobs/job_silver.py:66-88`)
  * while graft lands new data into them, exactly per the public spec:
  *
  *  1. the rows conform to the table's CURRENT schema (reordered,
  *     cast; extras or missing columns refuse) and are written as
  *     parquet WITH Iceberg field ids in the footers — future readers
  *     resolve the new files BY ID across any later rename; under a
  *     PARTITIONED default spec the rows land IN their partitions
  *     (`partitionBy` over the spec's directory columns — the source
  *     column itself for identity, per the spec's identity-projection
  *     rule; a derived transform column otherwise: day/month/year/
  *     hour, murmur3 `bucket[N]`, `truncate[W]`), each manifest entry
  *     carrying its typed partition struct so scoped deletes and
  *     partition-value pruning stay exact; transforms this engine
  *     cannot compute refuse loudly;
  *  2. one new manifest lists the files as ADDED entries (status 1,
  *     null sequence → inherited from the manifest list per the v2
  *     rule) with record counts and per-field value/null counts +
  *     single-value-serialized bounds from the freshly written footers
  *     (external engines can file-skip the appended data);
  *  3. a new manifest list carries the previous snapshot's manifests
  *     (decoded field-by-field, so foreign writers' list schemas carry
  *     over) plus the new one at the next sequence;
  *  4. a new metadata version commits the snapshot (parent chain,
  *     `last-sequence-number`, snapshot-log, `refs.main`) through the
  *     commit CAS, so two racing appends conflict loudly on the
  *     version file instead of lost-writing (HadoopTableOperations'
  *     own optimistic pattern).
  *
  * Manifests, the list and the commit are encoded by [[IcebergMetadata]].
  *
  * Because appended rows take a sequence number strictly greater than
  * every existing delete file's, the table's equality deletes never
  * touch them — the spec's strictly-earlier gating, no special case.
  *
  * The load → write-manifest → commit pieces are shared (private[io])
  * with [[IcebergDml]] (row-level deletes/updates committing delete
  * manifests), [[IcebergMaintenance.compact]] (a REPLACE snapshot is
  * exactly an append whose manifest list drops the previous manifests
  * — built BEFORE the single commit, so no reader ever sees an
  * intermediate doubled head), and branch-targeted commits (`branch`
  * param: the snapshot parents off and advances the named branch ref,
  * leaving `main`/`current-snapshot-id` untouched — Iceberg's
  * write-audit-publish on foreign tables).
  *
  * Honest refusals: v1 tables (no sequence semantics to inherit),
  * spec transforms this engine cannot compute (landing rows in the
  * wrong partition would corrupt scoped-delete semantics), identity
  * partition values that don't path-encode losslessly, schema
  * mismatches, version-file collisions, and metadata layouts whose
  * version the writer cannot derive (catalog-style
  * `00001-<uuid>.metadata.json` names are read-only here).
  */
object IcebergAppend {

  /** Snapshot-summary property under which streaming appends record
    * their (checkpoint-scoped) transaction marker — the replay guard
    * [[committedTxnIds]] scans. */
  private[graft] val TxnKey = "graft-txn-id"

  /** Table-property prefix under which committed txn markers are ALSO
    * persisted (`graft.txn.<namespace>` = a compact range list of
    * batch ids). Snapshot summaries die with snapshot expiry
    * ([[IcebergMaintenance.expireSnapshots]]); table properties are
    * carried forward in every metadata version, so the streaming
    * replay guard survives expiry. */
  private[io] val TxnRangesPrefix = "graft.txn."
  private[io] val TxnRawKey = "graft.txn.raw"

  /** Every txn marker recorded on the table — the union of snapshot-
    * summary markers (live snapshots) and the expiry-proof
    * `graft.txn.*` table properties. What a streaming writer consults
    * to skip a replayed micro-batch (Iceberg's own streaming sinks use
    * the same summary-marker idempotence pattern). */
  def committedTxnIds(spark: SparkSession, tableDir: String): Set[String] = {
    val tm = IcebergImport.meta(spark, tableDir)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    tm.snapshots.flatMap(_.summary.get(TxnKey)).toSet ++ tm.properties.flatMap {
      case (TxnRawKey, raw) =>
        val arr = om.readTree(raw)
        (0 until arr.size).map(arr.get(_).asText)
      case (k, v) if k.startsWith(TxnRangesPrefix) =>
        val ns = k.stripPrefix(TxnRangesPrefix)
        decodeRanges(v).map(n => s"$ns.$n")
      case _ => Nil
    }
  }

  // ------------------------------------------------------------------
  // compact range-list codec for the expiry-proof txn property:
  // "0-17,19,21-23". Batch ids per checkpoint are near-contiguous, so
  // a 10k-batch stream persists as a handful of bytes, not 10k ids.
  // ------------------------------------------------------------------

  private[io] def decodeRanges(s: String): Seq[Long] =
    if (s.isEmpty) Nil
    else s.split(',').toSeq.flatMap { part =>
      part.split('-') match {
        case Array(one) => Seq(one.toLong)
        case Array(a, b) => a.toLong to b.toLong
        case _ => throw new IllegalArgumentException(s"bad txn range '$part' in '$s'")
      }
    }

  private[io] def encodeRanges(ids: Seq[Long]): String = {
    val sorted = ids.distinct.sorted
    val parts = Seq.newBuilder[String]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1) == sorted(j) + 1) j += 1
      parts += (if (j == i) sorted(i).toString else s"${sorted(i)}-${sorted(j)}")
      i = j + 1
    }
    parts.result().mkString(",")
  }

  /** Fold a committed txn marker into the metadata's expiry-proof
    * `graft.txn.*` properties (numeric-tailed markers range-compress;
    * anything else lands in the raw JSON list). */
  private def recordTxnProperty(md: ObjectNode, txn: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val props =
      if (md.hasNonNull("properties")) md.get("properties").asInstanceOf[ObjectNode]
      else md.putObject("properties")
    val cut = txn.lastIndexOf('.')
    val numericTail = if (cut > 0) txn.substring(cut + 1).toLongOption else None
    numericTail match {
      case Some(n) =>
        val key = TxnRangesPrefix + txn.substring(0, cut)
        val prior = if (props.hasNonNull(key)) decodeRanges(props.get(key).asText) else Nil
        props.put(key, encodeRanges(prior :+ n))
      case None =>
        val arr =
          if (props.hasNonNull(TxnRawKey)) om.readTree(props.get(TxnRawKey).asText).asInstanceOf[ArrayNode]
          else om.createArrayNode()
        val have = (0 until arr.size).map(arr.get(_).asText).toSet
        if (!have.contains(txn)) arr.add(txn)
        props.put(TxnRawKey, om.writeValueAsString(arr))
    }
  }

  // ------------------------------------------------------------------
  // shared commit machinery (private[io]): load → write manifests →
  // one atomic metadata commit
  // ------------------------------------------------------------------

  /** The parsed write-side view of a table head: its metadata, current
    * schema fields `(id, name, spark type)`, the default partition spec
    * as `(name, transform, srcCol, srcType, avro kind, field id,
    * identity?)` tuples, and the next snapshot/sequence coordinates.
    * `parent` is the head of the TARGET BRANCH (`main` = the table
    * head). */
  private[io] case class Loaded(
      meta: IcebergMetadata.TableMetadata,
      fields: Seq[(Int, String, DataType)],
      specFields: Seq[(String, String, String, DataType, String, Int, Boolean)],
      newSnap: Long,
      newSeq: Long,
      parent: Option[Long],
      branch: String) {
    def tableDir: String = meta.tableDir
    def fs: org.apache.hadoop.fs.FileSystem = meta.fs
    def metaDir: Path = meta.path.getParent
    def mdPath: Path = meta.path
    /** The metadata JSON this commit edits. */
    def md: ObjectNode = meta.json

    /** Write `files` as one manifest of this commit at metadata/`name`:
      * ADDED entries whose sequences inherit the commit's. `specId`
      * defaults to the table's default spec, under its partition
      * struct; any other spec here is the unpartitioned delete spec. */
    def writeManifest(name: String, content: Int, files: Seq[IcebergMetadata.DataFile],
        specId: Int = meta.defaultSpecId): IcebergMetadata.ManifestListEntry = {
      val partFields =
        if (specId != meta.defaultSpecId) Nil
        else specFields.map(f => IcebergMetadata.PartField(f._1, f._5, f._6))
      IcebergMetadata.writeManifest(fs, new Path(metaDir, name),
        IcebergMetadata.headerOf(meta, content, specId, partFields),
        files.map(IcebergMetadata.ManifestEntry.added(newSnap, _)), newSeq, newSnap)
    }
  }

  private[io] def load(spark: SparkSession, tableDir: String,
      branch: String = "main"): Loaded = {
    val tm = IcebergImport.meta(spark, tableDir)
    // refuse non-v<N> layouts up front — the commit could not derive
    // the next version name (A DML that writes data files first and
    // only then discovers it cannot commit would leave debris)
    IcebergImport.writableVersionOf(tm.path)
    require(tm.formatVersion == 2 || tm.formatVersion == 3,
      s"commit needs a v2/v3 table (sequence-number inheritance); ${tm.path} is " +
        s"format-version ${tm.formatVersion}")

    // ---- current schema: (id, name, spark type) in schema order ----
    require(tm.schema.nonEmpty, s"no parseable current schema in ${tm.path}")
    val fields: Seq[(Int, String, DataType)] = tm.schema.map { f =>
      (f.id, f.name, f.field.getOrElse(throw new IllegalArgumentException(
        s"unmapped Iceberg type ${f.json.get("type")} of column '${f.name}' in ${tm.path}")).dataType)
    }

    // ---- the default partition spec: rows must land IN their
    // partitions (scoped-delete semantics), so every spec transform
    // must be computable here — identity, day/month/year/hour,
    // bucket[N] (murmur3), truncate[W]; anything else refuses
    val specFields: Seq[(String, String, String, DataType, String, Int, Boolean)] =
      tm.specs.get(tm.defaultSpecId).toSeq.flatMap(_.fields).map { f =>
        val name = f.name
        val src = fields.find(_._1 == f.sourceId).getOrElse(throw new IllegalArgumentException(
          s"partition field '$name' sources field id ${f.sourceId}, " +
            s"not in the current schema of $tableDir"))
        val kind = f.transform match {
          case "identity" => src._3 match {
            case ByteType | ShortType | IntegerType => "int"
            case LongType => "long"
            case StringType => "string"
            case DateType => "date"
            case other => throw new IllegalArgumentException(
              s"append cannot path-encode identity partition values of type $other " +
                s"(field '$name' of $tableDir) — int/long/string/date only")
          }
          case "day" => "date"
          case "month" | "year" | "hour" => "int"
          case t if t.matches("bucket\\[\\d+\\]") => "int"
          case t if t.matches("truncate\\[\\d+\\]") => src._3 match {
            case StringType => "string"
            case IntegerType => "int"
            case LongType => "long"
            case other => throw new IllegalArgumentException(
              s"truncate over $other (field '$name' of $tableDir) is not computable here")
          }
          case other => throw new IllegalArgumentException(
            s"append cannot compute partition transform '$other' (field '$name' of " +
              s"$tableDir) — rows must land in their partitions; compact or evolve the spec first")
        }
        (name, f.transform, src._2, src._3, kind, f.fieldId, f.transform == "identity")
      }
    specFields.filterNot(_._7).foreach { f =>
      require(!fields.exists(_._2 == f._1),
        s"derived partition field '${f._1}' collides with a table column of $tableDir")
    }

    // ---- new snapshot / sequence coordinates; parent = branch head --
    val parent: Option[Long] =
      if (branch == "main") tm.current
      else {
        val r = tm.refs.getOrElse(branch, throw new IllegalArgumentException(
          s"no branch '$branch' on $tableDir — create it with IcebergEvolve.createBranch"))
        require(r.kind == "branch",
          s"ref '$branch' on $tableDir is a ${r.kind} — tags are immutable, only branches take commits")
        Some(r.snapshotId)
      }
    Loaded(tm, fields, specFields,
      (tm.snapshots.map(_.id) :+ 0L).max + 1, tm.lastSequence + 1, parent, branch)
  }

  /** Conform `df` to the table's current schema, write it as
    * field-id-carrying parquet (landing IN its partitions under a
    * partitioned default spec), and write one ADDED data manifest with
    * footer stats. Nothing is committed — the returned manifest enters
    * a snapshot via [[commitSnapshot]]. */
  private[io] def writeDataManifest(spark: SparkSession, lt: Loaded,
      df: DataFrame): IcebergMetadata.ManifestListEntry = {
    import lt.{fs, fields, specFields, tableDir, newSnap}
    val hconf = spark.sparkContext.hadoopConfiguration

    // ---- conform rows to the current schema, ids in the footers -----
    val names = fields.map(_._2)
    val missing = names.filterNot(df.columns.contains)
    val extras = df.columns.filterNot(names.contains)
    require(missing.isEmpty && extras.isEmpty,
      s"schema mismatch vs $tableDir: missing ${missing.mkString("[", ",", "]")}, " +
        s"extra ${extras.mkString("[", ",", "]")}")
    val conformed = df.select(fields.map { case (id, n, dt) =>
      IcebergDml.qcol(n).cast(dt).as(n,
        new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
    }: _*)
    val segId = java.util.UUID.randomUUID().toString.take(18)
    val dataDir = new Path(tableDir, s"data/append-$segId")
    // partitioned layouts: rows land in their partitions via
    // `partitionBy` over the spec's DIRECTORY columns — the source
    // column itself for identity (spec rule: identity-partitioned
    // columns may live only in partition metadata), a derived
    // transform column (never written into the files) otherwise
    val withDerived = specFields.filterNot(_._7).foldLeft(conformed) { (acc, f) =>
      val (name, transform, srcCol, srcType, _, _, _) = f
      val expr = IcebergImport.transformExpr(
        IcebergDml.qcol(srcCol), srcType, transform)
        .getOrElse(throw new IllegalArgumentException(
          s"partition transform '$transform' over $srcType (field '$name') is not computable"))
      acc.withColumn(name, expr)
    }
    val dirCols = specFields.map(f => if (f._7) f._3 else f._1)
    val writer = withDerived.write
    IcebergDml.withFieldIdWrites(spark) {
      (if (dirCols.isEmpty) writer else writer.partitionBy(dirCols: _*)).parquet(dataDir.toString)
    }
    val dataFiles = parquetFilesUnder(fs, dataDir)
    require(dataFiles.nonEmpty, s"wrote no parquet files under $dataDir" +
      (if (dirCols.nonEmpty) " — a partitioned write of zero rows has nothing to commit" else ""))

    /** This file's `dir=value` components below the segment root. */
    def rawParts(p: Path): Map[String, String] = {
      val rel = p.toString.stripPrefix(fs.makeQualified(dataDir).toString)
        .stripPrefix(dataDir.toString).stripPrefix("/")
      rel.split('/').init.filter(_.contains("=")).map { c =>
        val i = c.indexOf('=')
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(c.substring(0, i)) ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(c.substring(i + 1))
      }.toMap
    }
    /** Typed partition value for one spec field from the file's dirs:
      * identity DATE dirs are ISO strings, day-transform dirs are the
      * transform's integer image — both land as the logical-date int. */
    def partValue(p: Path, name: String, dirName: String, kind: String): AnyRef = {
      val raw = rawParts(p).getOrElse(dirName, throw new IllegalArgumentException(
        s"written file $p lacks a directory value for partition field '$name'"))
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else kind match {
        case "int" => java.lang.Integer.valueOf(raw.toInt)
        case "long" => java.lang.Long.valueOf(raw.toLong)
        case "string" => raw
        case "date" => java.lang.Integer.valueOf(
          raw.toIntOption.getOrElse(java.time.LocalDate.parse(raw).toEpochDay.toInt))
        case other => throw new IllegalArgumentException(
          s"append to $tableDir cannot path-decode partition values of kind '$other' " +
            s"(field '$name') — int/long/string/date only")
      }
    }

    // ---- footer stats for the manifest (file-skipping surface) ------
    def statKind(dt: DataType): Option[String] = dt match {
      case IntegerType => Some("int")
      case DateType => Some("date")
      case LongType => Some("long")
      case TimestampType | TimestampNTZType => Some("ts")
      case FloatType => Some("float")
      case DoubleType => Some("double")
      case StringType => Some("string")
      case _ => None
    }
    val wanted: Map[String, String] =
      fields.flatMap { case (_, n, dt) => statKind(dt).map(n -> _) }.toMap
    val idByName = fields.map { case (id, n, _) => n -> id }.toMap
    val stats: Map[String, IcebergExport.FileStats] =
      dataFiles.map(p => p.toString ->
        IcebergExport.footerStats(p.toString, hconf, wanted)).toMap

    lt.writeManifest(s"m-append-$newSnap-$segId.avro", content = 0, dataFiles.map { p =>
      val st = stats(p.toString)
      IcebergMetadata.DataFile(0, fs.makeQualified(p).toString, "PARQUET", st.rows,
        fs.getFileStatus(p).getLen,
        partition = specFields.map(f => f._1 -> partValue(p, f._1, if (f._7) f._3 else f._1, f._5)),
        stats = st.cols.flatMap { case (n, c) => idByName.get(n).map(_ -> c) })
    })
  }

  /** The parquet files written under `dir`, in path order. */
  private[io] def parquetFilesUnder(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Path] = {
    val it = fs.listFiles(dir, true)
    val b = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) b += st.getPath
    }
    b.result().sortBy(_.toString)
  }

  /** Commit `manifests` as ONE new snapshot on `lt`'s branch: one new
    * manifest list (the branch parent's manifests when `carryPrevious`,
    * each substituted by its `replacePrev` rewrite when it has one, plus
    * the new ones at the next sequence), one snapshot node, ONE new
    * metadata version through [[IcebergMetadata.commit]] (racing writers
    * conflict loudly). Non-main branches advance only their own ref —
    * `current-snapshot-id`, `refs.main` and the snapshot-log stay
    * untouched (Iceberg's snapshot-log records changes to the CURRENT
    * snapshot only). */
  private[io] def commitSnapshot(spark: SparkSession, lt: Loaded,
      manifests: Seq[IcebergMetadata.ManifestListEntry], operation: String,
      summaryProps: Map[String, String] = Map.empty,
      carryPrevious: Boolean = true,
      replacePrev: Map[String, IcebergMetadata.ManifestListEntry] = Map.empty): Long = {
    import lt.{meta, fs, md, metaDir, mdPath, tableDir, newSnap, newSeq, parent, branch}
    require(manifests.nonEmpty, s"a snapshot commit on $tableDir needs at least one manifest")
    val now = System.currentTimeMillis()

    // ---- new manifest list: (previous manifests +) the new ones -----
    val fv = meta.formatVersion
    val carried: Seq[IcebergMetadata.ManifestListEntry] =
      if (!carryPrevious) Nil
      else parent.toSeq.flatMap { c =>
        val snap = meta.snapshot(c)
        require(snap.manifestList.isDefined,
          s"snapshot $c of $mdPath has no manifest-list (v1 inline layout?) — cannot commit")
        meta.manifests(snap).map(m => replacePrev.getOrElse(m.path, m))
      }
    // v3 row-id assignment for THIS commit's data manifests: the first
    // gets the table's next-row-id, subsequent ones advance by row
    // count (the spec's cumulative assignment); delete manifests carry
    // no row ids. The snapshot-level first-row-id stamp below uses the
    // same base, so list and snapshot agree by construction.
    var rowIdCursor: Long = if (fv == 3) meta.nextRowId else 0L
    val added = manifests.map { m =>
      if (fv != 3 || m.content != 0) m
      else { val r = m.copy(firstRowId = Some(rowIdCursor)); rowIdCursor += m.addedRows; r }
    }
    val listPath = IcebergMetadata.writeManifestList(fs,
      new Path(metaDir, s"snap-$newSnap-1-${java.util.UUID.randomUUID()}.avro"),
      fv, newSnap, parent, newSeq, carried ++ added)

    // ---- the new metadata version -------------------------------------
    val newSnapNode = md.withArray[ArrayNode]("snapshots").addObject()
    newSnapNode.put("snapshot-id", newSnap)
    parent.foreach(c => newSnapNode.put("parent-snapshot-id", c))
    newSnapNode.put("sequence-number", newSeq)
    newSnapNode.put("timestamp-ms", now)
    val summary = newSnapNode.putObject("summary")
    summary.put("operation", operation)
    summaryProps.foreach { case (k, v) => summary.put(k, v) }
    newSnapNode.put("manifest-list", listPath)
    if (md.has("current-schema-id"))
      newSnapNode.put("schema-id", md.get("current-schema-id").asInt)
    // v3 row lineage: the snapshot records the id range it assigns
    // (first-row-id + added-rows) and the table's next-row-id advances
    // — the spec's writer obligation; readers here null-fill lineage
    if (fv == 3) {
      val nextRowId = meta.nextRowId
      val addedRows = manifests.filter(_.content == 0).map(_.addedRows).sum
      newSnapNode.put("first-row-id", nextRowId)
      newSnapNode.put("added-rows", addedRows)
      md.put("next-row-id", nextRowId + addedRows)
    }
    md.put("last-sequence-number", newSeq)
    md.put("last-updated-ms", now)
    summaryProps.get(TxnKey).foreach(txn => recordTxnProperty(md, txn))
    val refs =
      if (md.hasNonNull("refs")) md.get("refs").asInstanceOf[ObjectNode]
      else md.putObject("refs")
    val branchRef =
      if (refs.hasNonNull(branch)) refs.get(branch).asInstanceOf[ObjectNode]
      else refs.putObject(branch)
    branchRef.put("snapshot-id", newSnap)
    if (!branchRef.has("type")) branchRef.put("type", "branch")
    if (branch == "main") {
      md.put("current-snapshot-id", newSnap)
      val slog = md.withArray[ArrayNode]("snapshot-log")
      val sl = slog.addObject()
      sl.put("timestamp-ms", now); sl.put("snapshot-id", newSnap)
    }
    IcebergMetadata.commit(fs, mdPath, md)
    newSnap
  }

  /** Make sure the metadata carries an unpartitioned spec for global
    * delete manifests, registering a fresh spec id when absent (spec
    * evolution is append-only; `default-spec-id` is untouched). The
    * edit rides the SAME metadata commit as the delete snapshot. */
  private[io] def ensureUnpartitionedSpec(lt: Loaded): Int =
    lt.meta.specs.values.filter(_.fields.isEmpty).map(_.id).minOption.getOrElse {
      val newId = (lt.meta.specs.keys.toSeq :+ 0).max + 1
      val node = lt.md.withArray[ArrayNode]("partition-specs").addObject()
      node.put("spec-id", newId)
      node.putArray("fields")
      newId
    }

  /** Append `df` as a new snapshot on `branch` (default: the table
    * head); returns the new snapshot id. `summaryProps` land in the
    * snapshot summary (e.g. the streaming replay marker — also
    * persisted expiry-proof as a `graft.txn.*` table property). */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      summaryProps: Map[String, String] = Map.empty,
      branch: String = "main"): Long = {
    val lt = load(spark, tableDir, branch)
    val m = writeDataManifest(spark, lt, df)
    commitSnapshot(spark, lt, Seq(m), operation = "append", summaryProps = summaryProps)
  }

  /** Replace the table's content with `df` in ONE atomic snapshot
    * (`operation=overwrite`, manifest list referencing only the new
    * files — prior snapshots stay time-travelable). The INSERT
    * OVERWRITE face of the bridge. */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
      branch: String = "main"): Long = {
    val lt = load(spark, tableDir, branch)
    val m = writeDataManifest(spark, lt, df)
    commitSnapshot(spark, lt, Seq(m), operation = "overwrite", carryPrevious = false)
  }

  /** Register EXTERNALLY WRITTEN data files as one append snapshot —
    * Iceberg's own `add_files`/register shape: the files are adopted
    * BY REFERENCE (never read row-wise, never rewritten), entered as
    * ADDED manifest entries with their record counts (parquet/ORC
    * footer, avro container walk — metadata-sized reads) and byte sizes but NO
    * column bounds (the manifest simply cannot skip these files until
    * a compaction rewrites them with stats). The caller asserts the
    * files match the table's current schema — by parquet field ids or
    * Avro `field-id` props, which is how the read resolves them.
    * Restricted to an unpartitioned default spec: adopted files carry
    * no partition struct, and inventing one would corrupt
    * scoped-delete semantics. */
  def addFiles(spark: SparkSession, tableDir: String, files: Seq[String],
      format: String = "PARQUET", branch: String = "main",
      checkDuplicateFiles: Boolean = true): Long = {
    require(files.nonEmpty, "addFiles needs at least one file")
    val fmt = format.toUpperCase
    require(fmt == "PARQUET" || fmt == "AVRO" || fmt == "ORC",
      s"addFiles supports PARQUET, ORC and AVRO, got $format")
    val lt = load(spark, tableDir, branch)
    // partitioned adoption (r18 — add_files' primary real-world use
    // is adopting an existing Hive-partitioned tree; the reference's
    // bronze layout IS one, `sys_file_date=...` dirs): IDENTITY
    // partition values derive from the files' own `col=value` path
    // components, exactly the procedure's contract. Non-identity
    // transforms cannot be derived from a path and refuse.
    require(lt.specFields.forall(_._7),
      s"addFiles on $tableDir can only derive IDENTITY partition values from col=value " +
        s"path components; the default spec carries non-identity transforms: " +
        lt.specFields.filterNot(_._7).map(f => s"${f._2}(${f._3})").mkString(", "))
    // adopting a path a live manifest already references would
    // double-count its rows on every read — refuse by default, the
    // reference procedure's own contract (check_duplicate_files=true)
    if (checkDuplicateFiles && lt.parent.isDefined) {
      val live: Set[String] = IcebergImport.dataFiles(spark, tableDir, lt.parent)
        .flatMap { p0 =>
          val r = IcebergImport.resolve(tableDir, p0)
          Seq(p0, r.toString, lt.fs.makeQualified(r).toString)
        }.toSet
      val dups = files.filter { f =>
        val p = new Path(f)
        live.contains(f) || live.contains(p.toString) ||
          live.contains(lt.fs.makeQualified(p).toString)
      }
      require(dups.isEmpty,
        s"addFiles on $tableDir: ${dups.size} file(s) are already referenced by the " +
          s"current snapshot — adopting them again would double-count their rows: " +
          s"${dups.take(3).mkString(", ")}${if (dups.size > 3) ", …" else ""}. " +
          "Pass checkDuplicateFiles=false only if you know the manifests lie.")
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    def rowsOf(p: Path): Long = fmt match {
      case "PARQUET" =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      case "AVRO" =>
        val fs = p.getFileSystem(hconf)
        val s = new org.apache.avro.file.DataFileStream[GenericRecord](
          fs.open(p), new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
        try {
          // metadata-sized: sum the per-block record counts from the
          // container's block headers and SKIP the block bodies — no
          // per-record decode (the container framing carries counts)
          var n = 0L
          while (s.hasNext) { n += s.getBlockCount; s.nextBlock() }
          n
        } finally s.close()
      case "ORC" => IcebergOrcData.rows(spark, p.toString)
    }
    /** The file's `name=value` path components (Hive layout), keys and
      * values path-unescaped. Scans the WHOLE parent chain: an adopted
      * tree lives wherever it lives, not under this table's root. */
    def pathParts(p: Path): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      var cur = p.getParent
      while (cur != null) {
        val c = cur.getName
        val i = c.indexOf('=')
        if (i > 0)
          b += org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(c.substring(0, i)) ->
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(c.substring(i + 1))
        cur = cur.getParent
      }
      b.result()
    }
    /** One spec field's typed partition value from the file's dirs —
      * keyed by the partition-field name with the source column as the
      * fallback spelling; a file outside the expected layout refuses
      * (adopting it under a guessed partition would corrupt
      * scoped-delete semantics and partition pruning). */
    def partValue(p: Path, parts: Map[String, String],
        f: (String, String, String, org.apache.spark.sql.types.DataType, String, Int, Boolean))
        : AnyRef = {
      val (name, _, srcCol, _, kind, _, _) = f
      val raw = parts.get(name).orElse(parts.get(srcCol)).getOrElse(
        throw new IllegalArgumentException(
          s"addFiles on $tableDir: file $p carries no '$name='/'$srcCol=' path component " +
            "for the identity partition field — adopt Hive-layout trees only"))
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else kind match {
        case "int" => java.lang.Integer.valueOf(raw.toInt)
        case "long" => java.lang.Long.valueOf(raw.toLong)
        case "string" => raw
        case "date" => java.lang.Integer.valueOf(
          raw.toIntOption.getOrElse(java.time.LocalDate.parse(raw).toEpochDay.toInt))
        // unreachable today (load() refuses identity partitions over
        // any other source type up front), but a bare MatchError here
        // would violate the module's loud-refusal contract if the kind
        // vocabulary ever widens
        case other => throw new IllegalArgumentException(
          s"addFiles on $tableDir cannot path-decode identity partition values of " +
            s"kind '$other' (field '$name') — int/long/string/date only")
      }
    }
    val segId = java.util.UUID.randomUUID().toString.take(18)
    val m = lt.writeManifest(s"m-addfiles-${lt.newSnap}-$segId.avro", content = 0,
      files.sorted.map { f =>
        val p = new Path(f)
        val parts = if (lt.specFields.isEmpty) Map.empty[String, String] else pathParts(p)
        IcebergMetadata.DataFile(0, lt.fs.makeQualified(p).toString, fmt, rowsOf(p),
          lt.fs.getFileStatus(p).getLen,
          partition = lt.specFields.map(sf => sf._1 -> partValue(p, parts, sf)))
      })
    commitSnapshot(spark, lt, Seq(m), operation = "append")
  }
}
