package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Jar-free ROW-LEVEL DML on a FOREIGN Iceberg v2 table — the last
  * quadrant of the interop bridge: a migrating user whose tables stay
  * `USING ICEBERG` (the reference's are,
  * `/root/reference/spark/jobs/job_silver.py:66-88`, and the
  * reference deployment's Iceberg runtime does row-level DML on them)
  * can DELETE and UPDATE rows through graft without the Iceberg jars,
  * exactly per the public spec's merge-on-read shape:
  *
  *  - [[deleteWhere]] writes spec-shaped EQUALITY DELETE files
  *    (content=2 entries with `equality_ids`, landed in an
  *    UNPARTITIONED spec — global deletes) plus one `delete`-operation
  *    snapshot. By default the equality columns are ALL table columns,
  *    which makes equality semantics EXACT predicate semantics: a row
  *    equal to a matched row in every column satisfies the same
  *    predicate, so nothing over- or under-deletes — including
  *    duplicate copies, which all match. With explicit `equalityCols`
  *    (e.g. a primary key) the delete file stores only those columns
  *    and the semantics widen to "every row sharing a key tuple with a
  *    matched row" — the caller asserts key semantics, the file
  *    shrinks to O(distinct keys).
  *  - `strategy="position"` on [[deleteWhere]] writes spec POSITION
  *    deletes instead: (file_path, pos) rows from the scan's own
  *    `_metadata` lineage, addressing exactly the matched SURVIVING
  *    copies — O(matched) paths+longs instead of full row images, and
  *    the one delete shape that works on MAP-typed tables where
  *    nothing can equality-join (`auto`, the default, falls back to it
  *    there).
  *  - [[update]] commits the pre-image rows as a full-column equality
  *    delete (by POSITION on map-typed tables) AND the post-image rows
  *    as a new data manifest in ONE `overwrite` snapshot — readers
  *    either see the table before the update or after it, never a
  *    deleted-but-not-yet-rewritten intermediate. The v2 sequence
  *    rules make this safe with no special casing: both manifests take
  *    the same new sequence number, equality deletes apply only to
  *    STRICTLY LOWER sequences (and position deletes name old files
  *    only), so the rewritten rows are never eaten by their own
  *    delete.
  *  - [[upsert]] is the canonical MERGE (Iceberg's own MOR merge
  *    commit): equality delete on the source's key tuples + the source
  *    as a data manifest, one `overwrite` snapshot — O(source), the
  *    table itself never read.
  *
  * Scale shape: the delete file is O(matched rows) (O(distinct keys)
  * under explicit `equalityCols`), never O(table); no data file is
  * rewritten (merge-on-read — the read-side anti-join is
  * [[IcebergImport]]'s existing delete application, and
  * [[IcebergMaintenance.compact]] folds the debt away). All commits
  * go through [[IcebergAppend]]'s optimistic version-file pattern —
  * racing writers conflict loudly.
  *
  * Honest refusals: map-typed equality columns under EXPLICIT
  * equality (Spark cannot join on maps, so no engine-side anti-join
  * could apply the delete), equality columns absent from the schema,
  * v1 tables, non-`v<N>` metadata layouts, and predicates/assignments
  * that don't analyze.
  */
object IcebergDml {

  /** Delete rows matching the SQL `predicate` from the table (on
    * `branch` when given — write-audit-publish). Returns the new
    * snapshot id, or None when nothing matched (no commit — an empty
    * delete file would be pure debt). */
  def deleteWhere(spark: SparkSession, tableDir: String, predicate: String,
      equalityCols: Seq[String] = Nil, branch: String = "main",
      strategy: String = "auto"): Option[Long] =
    deleteWhereC(spark, tableDir, expr(predicate), equalityCols, branch, strategy)

  /** Column-predicate face (the SQL DML rewrite's entry point —
    * [[graft.plans.IcebergForeignRule]] re-anchors the statement's
    * resolved condition here).
    *
    * `strategy`: `"equality"` (the doc-comment's equality-delete
    * shape), `"position"` (spec POSITION deletes — (file_path, pos)
    * rows addressing exactly the matched copies, from the scan's own
    * `_metadata` lineage; O(matched) longs+paths instead of full row
    * images, and the one shape that works on MAP-typed tables where
    * nothing can equality-join), or `"auto"` (default): equality,
    * falling back to position when the full-column key set would be
    * refused for maps and no explicit `equalityCols` was given. */
  private[graft] def deleteWhereC(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      equalityCols: Seq[String] = Nil, branch: String = "main",
      strategy: String = "auto"): Option[Long] = {
    require(Set("auto", "equality", "position").contains(strategy),
      s"unknown delete strategy '$strategy' — auto | equality | position")
    val lt = IcebergAppend.load(spark, tableDir, branch)
    val current = readHead(spark, tableDir, lt)
    def hasMapCols = current.schema.fields.exists(f => hasMap(f.dataType))
    val usePosition = strategy == "position" ||
      (strategy == "auto" && equalityCols.isEmpty && hasMapCols)
    if (usePosition) {
      require(equalityCols.isEmpty,
        "equalityCols only applies to the equality strategy")
      val lineage = IcebergImport.readWithLineage(spark, tableDir,
        if (lt.branch == "main") None else lt.parent)
      val positions = lineage.filter(predicate)
        .select(col(IcebergImport.LineageFileCol), col(IcebergImport.LineagePosCol))
      if (positions.isEmpty) return None
      // v3: position deletes must be DELETION VECTORS (the spec retires
      // position-delete files in format-version 3) — encoded and
      // written inside executor tasks, prior DVs unioned + superseded
      if (lt.meta.formatVersion >= 3) {
        val (m, replaced) = PuffinDeletionVectors.writeDvDelete(spark, lt, positions)
        return Some(IcebergAppend.commitSnapshot(spark, lt, Seq(m),
          operation = "delete", replacePrev = replaced))
      }
      val specId = IcebergAppend.ensureUnpartitionedSpec(lt)
      val m = writePositionDeleteManifest(spark, lt, positions, specId)
      return Some(IcebergAppend.commitSnapshot(spark, lt, Seq(m), operation = "delete"))
    }
    val matched = current.filter(predicate)
    val keyCols = resolveKeyCols(lt, equalityCols, current.schema)
    val keys = matched.select(keyCols.map(qcol): _*).distinct()
    if (keys.isEmpty) return None
    val specId = IcebergAppend.ensureUnpartitionedSpec(lt)
    val m = writeEqualityDeleteManifest(spark, lt, keys, keyCols, specId)
    Some(IcebergAppend.commitSnapshot(spark, lt, Seq(m), operation = "delete"))
  }

  /** Update rows matching the SQL `predicate`: each assignment maps a
    * column name to a SQL expression over the current row (evaluated
    * on the PRE-image, then cast back to the column's declared type —
    * never a silent schema change). One `overwrite` snapshot carries
    * both the full-column equality delete of the pre-images and the
    * data manifest of the post-images. Returns the new snapshot id,
    * or None when nothing matched. */
  def update(spark: SparkSession, tableDir: String, predicate: String,
      assignments: Map[String, String], branch: String = "main"): Option[Long] =
    updateC(spark, tableDir, expr(predicate),
      assignments.view.mapValues(expr).toMap, branch)

  /** Column faces for predicate and assignment values (the SQL DML
    * rewrite's entry point). */
  private[graft] def updateC(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      branch: String = "main"): Option[Long] = {
    require(assignments.nonEmpty, "update needs at least one column assignment")
    val lt = IcebergAppend.load(spark, tableDir, branch)
    val current = readHead(spark, tableDir, lt)
    assignments.keys.foreach(c => require(current.columns.contains(c),
      s"assignment targets column '$c', not in the schema of $tableDir"))
    if (current.schema.fields.exists(f => hasMap(f.dataType)) || lt.meta.formatVersion >= 3) {
      // position-addressed pre-images, two reasons to be here:
      //  - map-typed tables: the full-column pre-image equality delete
      //    is impossible (nothing can join on maps);
      //  - v3 tables: position addressing is the spec's preferred
      //    delete representation there (emitted as DELETION VECTORS
      //    below) and strictly smaller than full-column row images.
      // Same one-snapshot overwrite, same sequence safety (position
      // deletes/DVs name (file, pos) of the OLD files only; the
      // post-image file is never referenced)
      val lineage = IcebergImport.readWithLineage(spark, tableDir,
        if (lt.branch == "main") None else lt.parent)
      val matched = lineage.filter(predicate)
      val positions = matched
        .select(col(IcebergImport.LineageFileCol), col(IcebergImport.LineagePosCol))
      if (positions.isEmpty) return None
      val updated = postImage(matched, current.schema, assignments)
      // v3: the pre-image delete half rides as DELETION VECTORS (same
      // one-snapshot overwrite; DVs reference only the OLD files, so
      // the post-image manifest is never touched by its own delete)
      if (lt.meta.formatVersion >= 3) {
        val (del3, replaced) = PuffinDeletionVectors.writeDvDelete(spark, lt, positions)
        val data3 = IcebergAppend.writeDataManifest(spark, lt, updated)
        return Some(IcebergAppend.commitSnapshot(spark, lt, Seq(del3, data3),
          operation = "overwrite", replacePrev = replaced))
      }
      val specId = IcebergAppend.ensureUnpartitionedSpec(lt)
      val del = writePositionDeleteManifest(spark, lt, positions, specId)
      val data = IcebergAppend.writeDataManifest(spark, lt, updated)
      return Some(IcebergAppend.commitSnapshot(spark, lt, Seq(del, data),
        operation = "overwrite"))
    }
    val matched = current.filter(predicate)
    // full-column pre-images: equality == predicate semantics (doc above)
    val keyCols = resolveKeyCols(lt, Nil, current.schema)
    val keys = matched.select(keyCols.map(qcol): _*).distinct()
    if (keys.isEmpty) return None
    val updated = postImage(matched, current.schema, assignments)
    val specId = IcebergAppend.ensureUnpartitionedSpec(lt)
    val del = writeEqualityDeleteManifest(spark, lt, keys, keyCols, specId)
    val data = IcebergAppend.writeDataManifest(spark, lt, updated)
    Some(IcebergAppend.commitSnapshot(spark, lt, Seq(del, data), operation = "overwrite"))
  }

  /** Keyed UPSERT (the canonical MERGE shape — Iceberg's own MOR merge
    * commit): ONE `overwrite` snapshot carrying an equality delete on
    * the source's key tuples AND the source rows as a data manifest.
    * Every existing row sharing a key with a source row is replaced;
    * source rows with unseen keys are plain inserts — the v2
    * strictly-lower sequence gate keeps the landed rows safe from
    * their own delete, no read-modify-write of the table ever happens
    * (O(source), never O(table)). Multiset contract: ALL source rows
    * land — a caller wanting one-row-per-key resolves conflicts first
    * (the SQL face enforces MERGE's cardinality rule before calling).
    * `summaryProps` carry e.g. the streaming replay marker.
    *
    * NULL keys: with `matchNullKeys = true` (the default — the
    * documented Scala/CALL face) the equality delete matches NULL key
    * values null-safely per the Iceberg spec, so a NULL-keyed source
    * row REPLACES existing NULL-keyed rows. SQL MERGE's `ON t.k = s.k`
    * is null-rejecting instead — a NULL-keyed source row never matches
    * and must insert ALONGSIDE surviving NULL-keyed target rows — so
    * the SQL face passes `matchNullKeys = false`: tuples with any NULL
    * key are excluded from the delete file (those rows still land as
    * plain inserts, same single snapshot). */
  def upsert(spark: SparkSession, tableDir: String, source: DataFrame,
      keys: Seq[String], branch: String = "main",
      summaryProps: Map[String, String] = Map.empty,
      matchNullKeys: Boolean = true): Long = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val lt = IcebergAppend.load(spark, tableDir, branch)
    val keyCols = resolveKeyCols(lt, keys, source.schema)
    val allTuples = source.select(keyCols.map(qcol): _*).distinct()
    val keyTuples =
      if (matchNullKeys) allTuples else allTuples.na.drop("any", keyCols)
    val manifests = Seq.newBuilder[IcebergMetadata.ManifestListEntry]
    if (!keyTuples.isEmpty) {
      val specId = IcebergAppend.ensureUnpartitionedSpec(lt)
      manifests += writeEqualityDeleteManifest(spark, lt, keyTuples, keyCols, specId)
    }
    manifests += IcebergAppend.writeDataManifest(spark, lt, source)
    IcebergAppend.commitSnapshot(spark, lt, manifests.result(), operation = "overwrite",
      summaryProps = summaryProps)
  }

  /** Build the post-image in ONE projection over the matched pre-image
    * frame, so every SET expression sees the PRE-image row — SQL's
    * simultaneous-evaluation rule (`SET a = b, b = a` swaps; `a = a+1,
    * b = a*2` doubles the OLD a). A foldLeft of withColumn would feed
    * each later assignment the earlier one's post-image and make the
    * result depend on Map iteration order. Selecting the schema's
    * fields also drops any lineage columns the map-typed path carries. */
  private def postImage(matched: DataFrame, schema: StructType,
      assignments: Map[String, org.apache.spark.sql.Column]): DataFrame =
    matched.select(schema.fields.map { f =>
      assignments.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(qcol(f.name))
    }.toSeq: _*)

  /** The content DML filters against: the target branch's head (main =
    * the plain current-snapshot read), row-level deletes applied. */
  private def readHead(spark: SparkSession, tableDir: String,
      lt: IcebergAppend.Loaded): DataFrame =
    if (lt.branch == "main") IcebergImport.read(spark, tableDir)
    else IcebergImport.read(spark, tableDir, lt.parent)

  /** Validate/default the equality column set. Maps refuse (no
    * engine could anti-join on them to apply the delete); everything
    * else Spark's null-safe equality covers — including NaN, which
    * `<=>` treats consistently on both sides. */
  private def resolveKeyCols(lt: IcebergAppend.Loaded, equalityCols: Seq[String],
      schema: StructType): Seq[String] = {
    val names = lt.fields.map(_._2)
    val keyCols = if (equalityCols.nonEmpty) equalityCols else names
    val unknown = keyCols.filterNot(names.contains)
    require(unknown.isEmpty,
      s"equality column(s) ${unknown.mkString("[", ",", "]")} not in the schema of " +
        s"${lt.tableDir} — have ${names.mkString("[", ",", "]")}")
    val mapped = keyCols.filter(c => hasMap(schema(c).dataType))
    require(mapped.isEmpty,
      s"equality delete cannot key map-typed column(s) ${mapped.mkString("[", ",", "]")} of " +
        s"${lt.tableDir} — no engine can join on maps to apply it; pass equalityCols " +
        "naming map-free key columns, or use strategy=\"position\"")
    keyCols
  }


  /** Exact-name column reference: backtick-quoted so a name containing
    * a dot is never parsed as a nested-field path. */
  private[graft] def qcol(c: String): org.apache.spark.sql.Column =
    col("`" + c.replace("`", "``") + "`")

  /** Run `body` with field-id parquet footers enabled, restoring the
    * session's prior value after — never leak the flag into the user's
    * subsequent parquet writes (the [[IcebergExport]] pattern). */
  private[io] def withFieldIdWrites[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Write `positions` ((file_path, pos) of each matched copy) as a
    * spec-shaped POSITION delete (entries content=1) — the reserved
    * field ids 2147483546/2147483545, rows sorted by (file_path, pos)
    * per the spec. */
  private def writePositionDeleteManifest(spark: SparkSession, lt: IcebergAppend.Loaded,
      positions: DataFrame, specId: Int): IcebergMetadata.ManifestListEntry = {
    val shaped = positions
      .select(
        col(IcebergImport.LineageFileCol).cast(StringType).as("file_path",
          new MetadataBuilder().putLong("parquet.field.id", 2147483546L).build()),
        col(IcebergImport.LineagePosCol).cast(LongType).as("pos",
          new MetadataBuilder().putLong("parquet.field.id", 2147483545L).build()))
      .sortWithinPartitions(col("file_path"), col("pos"))
    writeDeleteManifest(spark, lt, shaped, "posdelete", content = 1, specId)
  }

  /** Write `keys` as an EQUALITY delete (entries content=2,
    * `equality_ids` = the key columns' field ids). */
  private def writeEqualityDeleteManifest(spark: SparkSession, lt: IcebergAppend.Loaded,
      keys: DataFrame, keyCols: Seq[String], specId: Int): IcebergMetadata.ManifestListEntry = {
    val idByName = lt.fields.map { case (id, n, _) => n -> id }.toMap
    val typeByName = lt.fields.map { case (_, n, dt) => n -> dt }.toMap

    // the delete file physically contains its equality columns with
    // field ids in the footer — readers (incl. graft's own importer)
    // resolve them BY ID across any later rename
    val withIds = keys.select(keyCols.map { n =>
      qcol(n).cast(typeByName(n)).as(n,
        new MetadataBuilder().putLong("parquet.field.id", idByName(n).toLong).build())
    }: _*)
    writeDeleteManifest(spark, lt, withIds, "delete", content = 2, specId,
      keyCols.map(idByName))
  }

  /** Write `rows` as field-id-carrying delete parquet under
    * `data/<kind>-<id>` plus one delete manifest of ADDED entries
    * (`content` 1 position / 2 equality deletes, empty partition
    * struct — a GLOBAL delete in the unpartitioned spec `specId`).
    * Sequence numbers stay null and inherit the manifest list's (the
    * v2 ADDED-entry rule), exactly like the data side. */
  private def writeDeleteManifest(spark: SparkSession, lt: IcebergAppend.Loaded,
      rows: DataFrame, kind: String, content: Int, specId: Int,
      equalityIds: Seq[Int] = Nil): IcebergMetadata.ManifestListEntry = {
    import lt.fs
    val hconf = spark.sparkContext.hadoopConfiguration
    val segId = java.util.UUID.randomUUID().toString.take(18)
    val delDir = new Path(lt.tableDir, s"data/$kind-$segId")
    withFieldIdWrites(spark) { rows.write.parquet(delDir.toString) }
    val delFiles = IcebergAppend.parquetFilesUnder(fs, delDir)
    require(delFiles.nonEmpty, s"wrote no $kind parquet under $delDir")
    lt.writeManifest(s"md-$kind-${lt.newSnap}-$segId.avro", content = 1, delFiles.map { p =>
      IcebergMetadata.DataFile(content, fs.makeQualified(p).toString, "PARQUET",
        IcebergExport.footerStats(p.toString, hconf, Map.empty).rows,
        fs.getFileStatus(p).getLen, equalityIds = equalityIds)
    }, specId)
  }
}
