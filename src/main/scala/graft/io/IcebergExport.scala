package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** Jar-free ICEBERG V2 METADATA EXPORT (round-14 ask #5; the
  * reference's tables are `USING ICEBERG` —
  * `/root/reference/spark/jobs/job_silver.py:66-88,174-178` — and its
  * runtime jar is pulled in `/root/reference/spark/Dockerfile:12-22`;
  * no Iceberg jar ships in this sandbox, so interop is built from the
  * PUBLIC Iceberg table spec directly).
  *
  * [[export]] materializes a snapshot table's metadata in Iceberg's
  * v2 layout over the EXISTING parquet data files (which are never
  * touched, copied or rewritten — Iceberg manifests address files by
  * absolute URI, so the export is O(metadata)):
  *
  *   destDir/metadata/v<N>.metadata.json      table metadata (JSON)
  *   destDir/metadata/snap-<id>-*.avro        one manifest LIST per
  *                                            retained version (Avro,
  *                                            manifest_file schema,
  *                                            field-ids 500-517)
  *   destDir/metadata/m-<v>-*.avro            one manifest per chain
  *                                            segment (Avro,
  *                                            manifest_entry schema,
  *                                            field-ids per spec)
  *   destDir/metadata/version-hint.text       HadoopCatalog pointer
  *
  * Every retained version exports as an Iceberg snapshot whose
  * manifest list carries its chain segments with real sequence
  * numbers, so the external reader gets time travel, not just HEAD.
  * Record counts come from parquet footers read DISTRIBUTED (one job,
  * same shape as the stats-manifest build) — the driver only handles
  * file names.
  *
  * KEY-ADDRESSED merge-on-read chains export as Iceberg v2 EQUALITY
  * DELETES — the same shape Flink's CDC writer emits — with zero data
  * rewrite:
  *  - `mor_upsert` deltas: the delta parquet enters the snapshot TWICE,
  *    as a data file (content=0) and as an equality delete
  *    (content=2, equality_ids = the merge keys) at the SAME sequence
  *    number. The spec's strictly-earlier gating removes matching
  *    older rows while the delta's own rows survive — exactly
  *    graft's anti-join-then-union resolution;
  *  - `mor_delete` deltas: the key file enters as an equality delete
  *    only (the spec allows extra columns in a delete file, so key
  *    rows qualify verbatim);
  *  - `mor_revise` (minor compaction): `del/` files as equality
  *    deletes, `add/` files as data.
  *
  * PARTITIONED layouts export with Iceberg's MULTI-SPEC machinery:
  *  - identity `col=value` directories become partition spec 0
  *    (identity transforms, partition field-ids 1000+), with each
  *    file's typed partition struct parsed from its directory
  *    components — Iceberg's own add_files/migrate convention for
  *    Hive-layout files that omit the partition column from the
  *    parquet;
  *  - row-level DELETE files always enter under an UNPARTITIONED spec
  *    (spec 1 when the table is partitioned). Per the public spec's
  *    scan-planning rules, equality deletes stored in an unpartitioned
  *    spec apply as GLOBAL deletes — which is exactly graft's
  *    key-match semantics (an upsert/delete touches matching keys in
  *    EVERY partition). This closes the former partitioned-MOR
  *    refusal at O(metadata), no compaction required;
  *  - data files WITHOUT directory components (bare layouts) also ride
  *    the unpartitioned spec; such files always carry every schema
  *    column in the parquet itself.
  *
  * HIDDEN-TRANSFORM (`__p_*`) layouts export the transforms Iceberg
  * can faithfully express: `days(ts)` over date/timestamp sources →
  * `day`, `truncate(N, s)` over string sources → `truncate[N]`.
  * Bucket fields are honestly OMITTED from the spec (graft buckets
  * with xxhash64, Iceberg pins murmur3 — declaring `bucket[N]` would
  * make external readers prune the wrong files); an omitted field
  * costs only pruning, since transform source columns always stay in
  * the data files.
  *
  * CONTENT-ADDRESSED `mor_patch` deltas (bag-semantics exceptAll)
  * export as v2 POSITION DELETES: the chain replay in
  * [[buildPatchPositionDeletes]] names the exact (file_path, pos)
  * copies each patch removes, written as one sorted parquet per patch
  * under `destDir/deletes/` with the spec's reserved field ids — the
  * single place this export writes data, O(patch deltas). The patch's
  * `add/` files enter as plain data files.
  *
  * Scope (refused loudly, never exported wrong): patches over
  * Hive-partitioned layouts (the data files lack the partition
  * columns, so full row images cannot be replayed) and patches over
  * map-typed columns (row-value grouping cannot key maps) must
  * compact() first. Merge keys that a Hive-style layout dropped from
  * the delta parquet refuse (a delete file must physically carry its
  * equality columns). Schema evolution across the chain is likewise
  * refused (one schema-id describes every file).
  */
object IcebergExport {

  /** One partition-spec field: Avro/struct field `name`, Iceberg
    * `transform`, source column, value-serialization kind
    * (int/long/string/date), partition field id, and for hidden
    * transforms the `col=value` directory prefix that carries the
    * value ([[None]] for identity fields, whose directory component is
    * the column name itself). */
  private[io] final case class SpecField(name: String, transform: String, srcCol: String,
      kind: String, fid: Int, dirName: Option[String])

  /** Export `table`'s retained versions as an Iceberg v2 table rooted
    * at `destDir`; returns the metadata.json path. */
  def export(st: SnapshotTables, table: String, destDir: String): String =
    export(st, table, destDir, formatVersion = 2)

  /** V3-NATIVE EXPORT (r20 — the r19 verdict's #5): `formatVersion=3`
    * emits format-version-3 metadata (per-snapshot `first-row-id` /
    * `added-rows`, table `next-row-id`, manifest lists carrying the
    * row-lineage `first_row_id` assignment, spec id 520) and converts
    * every MOR equality-delete segment into DELETION VECTORS — the
    * keys join against the chain-prior data files' row positions, the
    * per-file position unions encode to Puffin blobs INSIDE executor
    * tasks, and each snapshot's manifest list carries ONE live DV
    * entry per referenced file (the v3 invariant), so a v3-expecting
    * engine reads the chain with zero equality deletes. Since
    * different snapshots see different delete prefixes, DV manifests
    * are written per DISTINCT contributing-delete-set and shared by
    * every snapshot with that set — O(history × deltas) blob bytes,
    * the price of keeping time travel DV-exact. Refusals: mor_patch
    * chains (a v3 table must not add position-delete files; DVs would
    * have to fold the patch positions — compact() first) and key
    * columns a Hive layout dropped from the prior data parquet. */
  def export(st: SnapshotTables, table: String, destDir: String, formatVersion: Int): String = {
    require(formatVersion == 2 || formatVersion == 3,
      s"export writes format-version 2 or 3, not $formatVersion")
    val v3 = formatVersion == 3
    val cur = st.currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    // the instance's own session — resolving the chain here (e.g. via
    // readVersion) would eagerly ANALYZE the head plan and mask the
    // typed refusal guards below behind whatever the resolver throws
    val spark = st.sparkSession
    // a version is representable when its whole chain is plain data
    // files under ONE schema; the CURRENT version must be (refuse the
    // export, never write wrong metadata), older unrepresentable
    // versions simply don't become Iceberg snapshots
    val exportableKinds = Set("full", "append", "mor_upsert", "mor_delete", "mor_revise", "mor_patch")
    def eligible(chain: Seq[SnapshotTables.VersionMeta]): Option[String] =
      chain.collectFirst {
        case m if !exportableKinds(m.kind) =>
          s"table $table carries an inexpressible delta (v${m.v} kind=${m.kind}) — " +
            "materialize()/compact() before exporting Iceberg metadata"
        case m if m.schemaEvolved =>
          s"table $table evolved its schema at v${m.v} — compact to one schema before exporting"
      }
    val allChains = st.history(table).map(v => v -> st.chainOf(table, v))
    eligible(allChains.last._2).foreach(msg => throw new IllegalArgumentException(msg))
    val chains = allChains.filter { case (_, c) => eligible(c).isEmpty }.toMap
    val versions = allChains.map(_._1).filter(chains.contains)

    val hconf = spark.sparkContext.hadoopConfiguration
    def fs(p: Path) = p.getFileSystem(hconf)
    val metaDir = new Path(destDir, "metadata")
    fs(metaDir).mkdirs(metaDir)

    // ---- per-segment files: (absolute path, length, raw identity
    // (col, rawValue) pairs parsed from `col=value` dirs, role).
    // Hive-style layouts drop the partition column from the data
    // files; Iceberg's own Hive-migration path (add_files/migrate)
    // handles exactly this by serving identity partition values from
    // the manifest's partition struct — so does this export. MOR
    // segments classify per kind: an upsert delta is BOTH a data file
    // and an equality delete, a key-delete file is a delete only, a
    // revise segment splits on its del/add dirs.
    val allSegs = chains.values.flatten.toSeq.distinctBy(_.v).sortBy(_.v)
    // tuple: (path, len, dir (col, rawValue) pairs, isData, isEqDelete,
    // isPatchDel) — a patch's del/ files are the SOURCE rows of the
    // position-delete computation, never manifest entries themselves
    val segFiles: Map[Int, Seq[(String, Long, Seq[(String, String)], Boolean, Boolean, Boolean)]] =
      allSegs.map { m =>
        val base = st.dataDirOfMeta(table, m)
        val f = fs(base)
        val baseStr = f.makeQualified(base).toString.stripSuffix("/") + "/"
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Seq[(String, String)], Boolean, Boolean, Boolean)]
        if (f.exists(base)) {
          val it = f.listFiles(base, true)
          while (it.hasNext) {
            val s = it.next()
            val rel = s.getPath.toString.stripPrefix(baseStr)
            val comps = rel.split('/')
            // hidden-transform layout dirs (`__p_*=v`) are REAL
            // partition components, not Spark side-files — they must
            // survive the hidden-component skip (silently skipping them
            // would export an empty table)
            if (s.isFile && rel.endsWith(".parquet") && !SnapshotManifests.hidden(rel)) {
              val parts = comps.init.filter(_.contains("=")).toSeq.map { c =>
                val i = c.indexOf('=')
                val col = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(c.substring(0, i))
                val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(c.substring(i + 1))
                (col, v)
              }
              val (isData, isDelete, isPatchDel) = m.kind match {
                case "full" | "append" => (true, false, false)
                case "mor_upsert" => (true, true, false)
                case "mor_delete" => (false, true, false)
                case "mor_revise" =>
                  if (rel.startsWith("del/")) (false, true, false)
                  else if (rel.startsWith("add/")) (true, false, false)
                  else throw new IllegalArgumentException(
                    s"table $table v${m.v} (mor_revise) holds a file outside del/add: $rel")
                case "mor_patch" =>
                  if (rel.startsWith("del/")) (false, false, true)
                  else if (rel.startsWith("add/")) (true, false, false)
                  else throw new IllegalArgumentException(
                    s"table $table v${m.v} (mor_patch) holds a file outside del/add: $rel")
              }
              out += ((s.getPath.toString, s.getLen, parts, isData, isDelete, isPatchDel))
            }
          }
        }
        m.v -> out.toSeq
      }.toMap
    // identity partition columns: every DIRECTORY-BEARING file shares
    // the SAME ordered column sequence (that sequence becomes spec 0);
    // bare files (no `col=value` components) are fine — they ride the
    // unpartitioned spec and always carry every column in the parquet
    val partColSeqs = segFiles.values.flatten.map(_._3.map(_._1)).filter(_.nonEmpty).toSeq.distinct
    require(partColSeqs.size <= 1,
      s"table $table mixes partition layouts across files (${partColSeqs.take(3)}) — " +
        "compact() to one layout before exporting")
    val partCols: Seq[String] = partColSeqs.headOption.getOrElse(Nil)

    // Iceberg equality deletes match NULL-SAFELY; graft's key-joins
    // never match a NULL key (the delta row is a no-op). A null merge
    // key would therefore delete rows the source table keeps — refuse
    // rather than export diverging metadata. O(delta key columns) read.
    // The same pass verifies the delete files physically CARRY their
    // key columns: a Hive-style layout drops partition columns from
    // the delta parquet, and an equality-delete file must contain its
    // equality columns per the spec.
    allSegs.filter(m => segFiles(m.v).exists(_._5)).foreach { m =>
      val delFiles = segFiles(m.v).filter(_._5).map(_._1)
      val delDf = spark.read.parquet(delFiles: _*)
      val missing = m.keyCols.filterNot(delDf.columns.contains)
      require(missing.isEmpty,
        s"table $table v${m.v} delta files do not carry merge key(s) ${missing.mkString(", ")} " +
          "(the partition layout dropped them from the parquet) — an Iceberg equality-delete " +
          "file must physically contain its equality columns; compact() first or re-key off " +
          "the partition columns")
      val nullKeyed = delDf
        .where(m.keyCols.map(c => org.apache.spark.sql.functions.col(c).isNull).reduce(_ || _))
        .limit(1).count()
      require(nullKeyed == 0,
        s"table $table v${m.v} delta carries NULL merge keys — Iceberg's null-safe equality " +
          "deletes diverge from graft's key-match semantics there; purge null-keyed rows first")
    }

    // ---- Iceberg schema JSON from the table's Spark schema
    val fieldId = new java.util.concurrent.atomic.AtomicInteger(0)
    def icebergType(dt: DataType): String = dt match {
      case BooleanType => "\"boolean\""
      case ByteType | ShortType | IntegerType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case StringType => "\"string\""
      case BinaryType => "\"binary\""
      case DateType => "\"date\""
      case TimestampType => "\"timestamptz\""
      case TimestampNTZType => "\"timestamp\""
      case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
      case a: ArrayType =>
        val id = fieldId.incrementAndGet()
        s"""{"type":"list","element-id":$id,"element":${icebergType(a.elementType)},"element-required":${!a.containsNull}}"""
      case m: MapType =>
        val kId = fieldId.incrementAndGet(); val vId = fieldId.incrementAndGet()
        s"""{"type":"map","key-id":$kId,"key":${icebergType(m.keyType)},"value-id":$vId,""" +
          s""""value":${icebergType(m.valueType)},"value-required":${!m.valueContainsNull}}"""
      case s: StructType => structJson(s)
      case other => throw new IllegalArgumentException(s"no Iceberg mapping for $other")
    }
    def structJson(s: StructType): String =
      s.fields.map { f =>
        val id = fieldId.incrementAndGet()
        s"""{"id":$id,"name":"${Json.escape(f.name)}","required":${!f.nullable},"type":${icebergType(f.dataType)}}"""
      }.mkString("""{"type":"struct","fields":[""", ",", "]}")
    // top-level primitive columns get exported file stats (Iceberg's
    // value/null counts and lower/upper bounds) — capture their field
    // ids and a serialization kind during the id walk. Parquet footer
    // bounds may be truncated for long strings, which matches Iceberg's
    // contract exactly: lower/upper are BOUNDS, not extrema.
    val tableSchema = st.readVersion(table, cur).schema
    val statCols = scala.collection.mutable.LinkedHashMap.empty[String, (Int, String)]
    val topIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def statKind(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case DateType => "date" // int32 days, serialized as int
      case TimestampType | TimestampNTZType => "ts" // int64 micros, as long
      case _ => "" // no stats exported for this type
    }
    val schemaFields = tableSchema.fields.map { f =>
      val id = fieldId.incrementAndGet()
      topIds(f.name) = id
      if (statKind(f.dataType).nonEmpty) statCols(f.name) = (id, statKind(f.dataType))
      s"""{"id":$id,"name":"${Json.escape(f.name)}","required":${!f.nullable},"type":${icebergType(f.dataType)}}"""
    }.mkString("""{"type":"struct","fields":[""", ",", "]}")
    val schemaJson = schemaFields.patch(
      schemaFields.indexOf('{') + 1, """"schema-id":0,""", 0)
    val lastColumnId = fieldId.get()

    // partition spec 0 from the layout's ordered directory components:
    //  - identity `col=value` dirs → identity fields (value types
    //    limited to what a directory name round-trips losslessly);
    //  - hidden-transform `__p_days_<ts>=v` dirs over a date/timestamp
    //    source → Iceberg's `day` transform (same UTC date semantics —
    //    sessions are pinned UTC);
    //  - `__p_trunc<N>_<s>=v` over a STRING source → `truncate[N]`
    //    (both sides take the leading N code points; numeric truncate
    //    is value-mod-W in Iceberg and so does NOT match — omitted);
    //  - `__p_m3bucket<N>_<k>=v` (the murmur3 bucket flavor,
    //    [[SnapshotTables.PartitionTransform.bucketMurmur3]]) computes
    //    the EXACT hash Iceberg pins (murmur3_x86_32 over the spec's
    //    value serialization — known-answer-tested against Appendix
    //    B), so it exports as a REAL `bucket[N]` spec field that
    //    external readers prune by;
    //  - `__p_bucket<N>_<k>=v` (xxhash64) is honestly OMITTED from the
    //    spec: declaring `bucket[N]` would make external readers prune
    //    the WRONG files. An omitted field only costs pruning: the
    //    data files carry every source column, so reads stay exact.
    val spec0Fields: Seq[SpecField] = {
      var nextFid = 1000
      partCols.flatMap { c =>
        if (!c.startsWith("__p_")) {
          val kind = tableSchema.fields.find(_.name == c).map(f => f.dataType match {
            case ByteType | ShortType | IntegerType => "int"
            case LongType => "long"
            case StringType => "string"
            case DateType => "date"
            case other => throw new IllegalArgumentException(
              s"partition column '$c' has type $other — identity export supports int/long/string/date")
          }).getOrElse(throw new IllegalArgumentException(
            s"partition column '$c' is not in table $table's schema"))
          require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"partition column '$c' is not a valid Avro field name — rename before exporting")
          val f = SpecField(c, "identity", c, kind, nextFid, None)
          nextFid += 1
          Some(f)
        } else {
          val rest = c.stripPrefix("__p_")
          val cut = rest.indexOf('_')
          require(cut > 0, s"unparseable hidden-partition directory '$c' in table $table")
          val (label, src) = (rest.substring(0, cut), rest.substring(cut + 1))
          val srcType = tableSchema.fields.find(_.name == src).map(_.dataType)
          val avroOk = src.matches("[A-Za-z_][A-Za-z0-9_]*")
          val made: Option[SpecField] = label match {
            case "days" if avroOk && srcType.exists(t =>
                t == DateType || t == TimestampType || t == TimestampNTZType) =>
              Some(SpecField(s"${src}_day", "day", src, "date", nextFid, Some(c)))
            case l if l.startsWith("trunc") && l.length > 5 && l.drop(5).forall(_.isDigit) &&
                avroOk && srcType.contains(StringType) =>
              Some(SpecField(s"${src}_trunc", s"truncate[${l.drop(5)}]", src, "string",
                nextFid, Some(c)))
            case l if l.startsWith("m3bucket") && l.length > 8 && l.drop(8).forall(_.isDigit) &&
                avroOk && srcType.exists(t => t == IntegerType || t == LongType ||
                  t == DateType || t == TimestampType || t == TimestampNTZType ||
                  t == StringType || t == BinaryType || t.isInstanceOf[DecimalType]) =>
              Some(SpecField(s"${src}_bucket", s"bucket[${l.drop(8)}]", src, "int",
                nextFid, Some(c)))
            case _ => None // xxhash64 buckets and non-matching sources: omitted, never misdeclared
          }
          if (made.nonEmpty) nextFid += 1
          made
        }
      }
    }
    // deletes and bare files ride the UNPARTITIONED spec: spec 0 when
    // the table has no layout spec, else spec 1 (multi-spec table)
    val unpartSpecId = if (spec0Fields.isEmpty) 0 else 1
    def specFieldsJson(fields: Seq[SpecField]): String = fields.map { f =>
      val srcId = topIds(f.srcCol)
      s"""{"name":"${Json.escape(f.name)}","transform":"${f.transform}","source-id":$srcId,"field-id":${f.fid}}"""
    }.mkString("[", ",", "]")
    val specsById: Map[Int, Seq[SpecField]] =
      if (spec0Fields.isEmpty) Map(0 -> Nil) else Map(0 -> spec0Fields, 1 -> Nil)

    /** Typed partition value for one spec field, from this file's raw
      * `col=value` directory pairs. */
    def partValue(f: SpecField, rawParts: Seq[(String, String)]): (String, AnyRef) = {
      val dir = f.dirName.getOrElse(f.name)
      val raw = rawParts.find(_._1 == dir).getOrElse(throw new IllegalArgumentException(
        s"file lacks a directory value for partition field '${f.name}' ($dir)"))._2
      val v: AnyRef =
        if (raw == "__HIVE_DEFAULT_PARTITION__") null
        else f.kind match {
          case "int" => java.lang.Integer.valueOf(raw.toInt)
          case "long" => java.lang.Long.valueOf(raw.toLong)
          case "string" => raw
          case "date" =>
            java.lang.Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        }
      (f.name, v)
    }

    // ---- mor_patch → POSITION DELETES (entry content=1): exceptAll's
    // bag semantics remove N copies of a full row image, and a
    // position delete names exactly which copies — the one delete
    // shape that CAN express multiset removal. Per patch segment, the
    // chain prefix is replayed per row-value group (see
    // [[buildPatchPositionDeletes]]); the resulting (file_path, pos)
    // parquet lands under destDir/deletes/ — the only data this
    // export ever writes, O(patch deltas) in size.
    val patchSegs = allSegs.filter(_.kind == "mor_patch")
    require(!v3 || patchSegs.isEmpty,
      s"table $table carries content-addressed patches (mor_patch) — a v3 table must not " +
        "add position-delete FILES, and folding patch positions into per-file DVs across " +
        "the whole history is not supported; compact() before a v3 export")
    val pdFiles: Map[Int, (String, Long)] = if (patchSegs.isEmpty) Map.empty else {
      val identityDirCols = partCols.filterNot(_.startsWith("__p_"))
      require(identityDirCols.isEmpty,
        s"table $table carries content-addressed patches over a Hive-partitioned layout " +
          s"(${identityDirCols.mkString(", ")}) — the partition columns are not in the data " +
          "files, so full row images cannot be replayed; compact() first")
      val mapped = tableSchema.fields.filter(f => containsMap(f.dataType)).map(_.name)
      require(mapped.isEmpty,
        s"table $table carries content-addressed patches and map-typed column(s) " +
          s"${mapped.mkString(", ")} — row-value grouping cannot key maps; compact() first")
      buildPatchPositionDeletes(st, table, spark, segFiles, patchSegs, tableSchema, destDir)
    }

    // ---- v3: MOR equality-delete segments → DELETION VECTORS --------
    // One matched-positions pass per delete segment (keys joined
    // against the CHAIN-PRIOR data files — the strict seq < delete-seq
    // scope equality deletes carry), landed as parquet under
    // destDir/deletes; blobs are written later per distinct
    // contributing set, after file stats exist.
    val delSegs = if (!v3) Nil else allSegs.filter(m => segFiles(m.v).exists(_._5))
    val dvSrcDir: Map[Int, String] = delSegs.flatMap { m =>
      import org.apache.spark.sql.functions.{broadcast, coalesce, col}
      val priorData = st.chainOf(table, m.v).filter(_.v < m.v)
        .flatMap(pm => segFiles.get(pm.v).toSeq.flatten.filter(_._4).map(_._1)).distinct
      if (priorData.isEmpty) None
      else {
        val dataCols = spark.read.parquet(priorData.head).columns.toSet
        val missing = m.keyCols.filterNot(dataCols.contains)
        require(missing.isEmpty,
          s"table $table v${m.v}: key column(s) ${missing.mkString(", ")} are not in the " +
            "prior data parquet (a Hive layout dropped them) — positions cannot be matched " +
            "for the v3 deletion-vector export; compact() first")
        val keys = spark.read.parquet(segFiles(m.v).filter(_._5).map(_._1): _*)
          .select(m.keyCols.map(col): _*).distinct()
        // canonicalize _metadata.file_path to the spelling the data
        // manifests use, or one file would split into two DV groups
        val spellRows = priorData.flatMap(p => IcebergImport.spellings(p).toSeq.map(_ -> p))
        val spellDf = spark.createDataFrame(spellRows).toDF("__sp", "__canon")
        val matched = spark.read.parquet(priorData: _*)
          .select(m.keyCols.map(col) :+ col("_metadata.file_path").as("__f")
            :+ col("_metadata.row_index").as("__p"): _*)
          .join(broadcast(keys), m.keyCols, "left_semi")
          .join(broadcast(spellDf), col("__f") === col("__sp"), "left")
          .select(coalesce(col("__canon"), col("__f")).as("f"), col("__p").as("p"))
        val out = s"$destDir/deletes/dvsrc-v${m.v}"
        matched.write.mode("overwrite").parquet(out)
        Some(m.v -> out)
      }
    }.toMap

    // ---- record counts + per-column stats from parquet footers, one
    // distributed job (the driver only handles file names)
    val allFiles = (segFiles.values.flatten.filter(t => t._4 || t._5).map(_._1) ++
      pdFiles.values.map(_._1)).toSeq.distinct
    val wantedKinds: Map[String, String] = statCols.map { case (n, (_, k)) => n -> k }.toMap
    val statsByFile: Map[String, IcebergExport.FileStats] =
      if (allFiles.isEmpty) Map.empty
      else {
        val confSer = new org.apache.spark.SerializableWritable(hconf)
        spark.sparkContext
          .parallelize(allFiles, math.max(1, math.min(allFiles.size, 64)))
          .map(abs => abs -> IcebergExport.footerStats(abs, confSer.value, wantedKinds))
          .collect().toMap
      }

    // ---- Avro manifests (per segment: data manifests per spec and,
    // for MOR segments, a delete manifest — all shared by every
    // snapshot list whose chain contains the segment)
    val now = System.currentTimeMillis
    /** The manifest header of spec `specId`; `content`: 0 data, 1
      * deletes (manifest_file vocabulary). */
    def header(specId: Int, content: Int) = IcebergMetadata.ManifestHeader(formatVersion,
      content, schemaJson, 0, specId, specFieldsJson(specsById(specId)),
      specsById(specId).map(f => IcebergMetadata.PartField(f.name, f.kind, f.fid)))
    /** One segment manifest; `entryContent` 0 data, 1 position / 2
      * equality deletes, every entry ADDED at the segment's sequence. */
    def writeManifest(m: SnapshotTables.VersionMeta, specId: Int,
        files: Seq[(String, Long, Seq[(String, AnyRef)])],
        entryContent: Int): IcebergMetadata.ManifestListEntry = {
      val eqIds: Seq[Int] =
        if (entryContent != 2) Nil
        else m.keyCols.map(k => topIds.getOrElse(k, throw new IllegalArgumentException(
          s"merge key '$k' of $table v${m.v} is not a top-level schema column — cannot export " +
            "equality deletes")))
      val tag = if (entryContent == 0) "" else "d"
      val p = new Path(metaDir, f"m$tag-${m.v}%05d-${java.util.UUID.randomUUID()}.avro")
      val seq = m.v.toLong
      IcebergMetadata.writeManifest(fs(p), p, header(specId, if (entryContent == 0) 0 else 1),
        files.map { case (path, len, partVals) =>
          val fst = statsByFile.getOrElse(path, IcebergExport.FileStats(0L, Map.empty))
          IcebergMetadata.ManifestEntry.added(seq, IcebergMetadata.DataFile(entryContent, path,
            "PARQUET", fst.rows, len, partVals,
            fst.cols.flatMap { case (name, cs) => statCols.get(name).map { case (id, _) => id -> cs } },
            eqIds), Some(seq))
        }, seq, seq)
    }
    val manifestMeta: Map[Int, Seq[IcebergMetadata.ManifestListEntry]] = allSegs.map { m =>
      val fsOfSeg = segFiles(m.v)
      // data files split by spec: directory-bearing files under the
      // layout spec 0 (typed partition struct), bare files under the
      // unpartitioned spec
      val dataLaid = fsOfSeg.filter(t => t._4 && t._3.nonEmpty)
        .map(t => (t._1, t._2, spec0Fields.map(f => partValue(f, t._3))))
      val dataBare = fsOfSeg.filter(t => t._4 && t._3.isEmpty)
        .map(t => (t._1, t._2, Seq.empty[(String, AnyRef)]))
      // delete files ALWAYS enter the unpartitioned spec with an empty
      // partition struct — global equality deletes per the public spec
      val dels = fsOfSeg.filter(_._5).map(t => (t._1, t._2, Seq.empty[(String, AnyRef)]))
      // a patch segment's computed position-delete file (absent when
      // the patch removed nothing)
      val posDel = pdFiles.get(m.v)
        .map { case (pth, ln) => (pth, ln, Seq.empty[(String, AnyRef)]) }.toSeq
      val refs = Seq.newBuilder[IcebergMetadata.ManifestListEntry]
      if (dataLaid.nonEmpty) refs += writeManifest(m, 0, dataLaid, entryContent = 0)
      // an empty DATA manifest still anchors empty full/append segments
      // (their snapshot must exist); empty delete manifests are skipped
      if (dataBare.nonEmpty || (dataLaid.isEmpty && dels.isEmpty && posDel.isEmpty))
        refs += writeManifest(m, unpartSpecId, dataBare, entryContent = 0)
      // v3 exports carry NO equality deletes — those segments become
      // per-contributing-set deletion vectors (below)
      if (dels.nonEmpty && !v3) refs += writeManifest(m, unpartSpecId, dels, entryContent = 2)
      if (posDel.nonEmpty) refs += writeManifest(m, unpartSpecId, posDel, entryContent = 1)
      m.v -> refs.result()
    }.toMap

    // ---- v3: Puffin blobs + ONE delete manifest per DISTINCT
    // contributing-delete-set (shared across every snapshot whose
    // chain sees exactly that set — the one-live-DV-per-file invariant
    // holds per manifest list by construction)
    val sigByVersion: Map[Int, Seq[Int]] =
      versions.map(v => v -> chains(v).map(_.v).filter(dvSrcDir.contains).sorted).toMap
    val dvManifestBySig: Map[Seq[Int], IcebergMetadata.ManifestListEntry] =
      if (!v3) Map.empty
      else sigByVersion.values.filter(_.nonEmpty).toSet.toSeq
        .sortBy((s: Seq[Int]) => s.mkString(",")).flatMap { sig: Seq[Int] =>
          import org.apache.spark.sql.functions.col
          import spark.implicits._
          val seqN = sig.max.toLong
          val sigTag = sig.mkString("-")
          val confSer = new org.apache.spark.SerializableWritable(hconf)
          val delDirStr = s"$destDir/deletes"
          val shaped = spark.read.parquet(sig.map(dvSrcDir): _*)
            .select(col("f"), col("p")).distinct()
            .repartition(col("f")).sortWithinPartitions("f", "p")
            .as[(String, Long)]
          val written: Seq[(String, String, Long, Long, Long)] = shaped.mapPartitions { it =>
            if (!it.hasNext) Iterator.empty[(String, String, Long, Long, Long)]
            else {
              val tc = org.apache.spark.TaskContext.get()
              require(tc != null,
                "DV encode must run inside an executor task, never on the driver")
              val pPath = new Path(s"$delDirStr/dv-sig$sigTag-p${tc.partitionId()}-" +
                s"${java.util.UUID.randomUUID().toString.take(8)}.puffin")
              val fsx = pPath.getFileSystem(confSer.value)
              val buf = it.buffered
              val grouped: Iterator[(String, Seq[Long])] = new Iterator[(String, Seq[Long])] {
                def hasNext: Boolean = buf.hasNext
                def next(): (String, Seq[Long]) = {
                  val f0 = buf.head._1
                  val b = Seq.newBuilder[Long]
                  while (buf.hasNext && buf.head._1 == f0) b += buf.next()._2
                  (f0, b.result())
                }
              }
              val refs = PuffinDeletionVectors.writePuffinStreaming(
                fsx, pPath, grouped, snapshotId = sig.max.toLong, sequenceNumber = seqN)
              val q = fsx.makeQualified(pPath).toString
              refs.iterator.map(r => (q, r.referencedDataFile, r.offset, r.length, r.cardinality))
            }
          }.collect().toSeq // one address row per referenced file — never positions
          if (written.isEmpty) None
          else {
            val p = new Path(metaDir, s"mdv-sig$sigTag-${java.util.UUID.randomUUID()}.avro")
            val puffinLen = scala.collection.mutable.Map.empty[String, Long]
            Some(sig -> IcebergMetadata.writeManifest(fs(p), p, header(unpartSpecId, 1),
              written.sortBy(w0 => (w0._1, w0._3)).map { case (puffin, refFile, off, len, card) =>
                IcebergMetadata.ManifestEntry.added(seqN, IcebergMetadata.DataFile(1, puffin,
                  "PUFFIN", card, puffinLen.getOrElseUpdate(puffin, {
                    val pp = new Path(puffin); fs(pp).getFileStatus(pp).getLen
                  }), dv = Some(PuffinDeletionVectors.DvRef(refFile, off, len, card))), Some(seqN))
              }, seqN, seqN))
          }
      }.toMap

    // ---- v3: row-lineage assignment over the exported history — each
    // data manifest gets ONE first_row_id (shared by every list that
    // carries it), snapshots record what they added, next-row-id is
    // the total. The emulation follows segment (= historical commit)
    // order, exactly what live v3 commits would have assigned.
    val (firstRowIdOf: Map[String, Long], segFirstRowId: Map[Int, Long],
        segAddedRows: Map[Int, Long], nextRowIdTotal: Long) =
      if (!v3) (Map.empty[String, Long], Map.empty[Int, Long], Map.empty[Int, Long], 0L)
      else {
        var cum = 0L
        val byPath = Map.newBuilder[String, Long]
        val segFirst = Map.newBuilder[Int, Long]
        val segAdded = Map.newBuilder[Int, Long]
        allSegs.sortBy(_.v).foreach { m =>
          segFirst += m.v -> cum
          var added = 0L
          manifestMeta(m.v).filter(_.content == 0).foreach { ref =>
            byPath += ref.path -> cum
            cum += ref.addedRows
            added += ref.addedRows
          }
          segAdded += m.v -> added
        }
        (byPath.result(), segFirst.result(), segAdded.result(), cum)
      }

    // ---- Avro manifest list per retained version
    val listPaths: Map[Int, String] = versions.zipWithIndex.map { case (v, i) =>
      val p = new Path(metaDir, s"snap-$v-1-${java.util.UUID.randomUUID()}.avro")
      // the version's segments, then its contributing-delete-set DV
      // manifest (v3); data manifests carry their row-id assignment
      val entries = chains(v).sortBy(_.v).flatMap(m => manifestMeta(m.v)) ++
        (if (v3) dvManifestBySig.get(sigByVersion(v)).toSeq else Nil)
      v -> IcebergMetadata.writeManifestList(fs(p), p, formatVersion, v,
        if (i == 0) None else Some(versions(i - 1).toLong), v.toLong,
        entries.map(e => if (e.content == 0) e.copy(firstRowId = firstRowIdOf.get(e.path)) else e))
    }.toMap

    // ---- table metadata JSON
    val uuid = java.util.UUID.nameUUIDFromBytes(s"${st.rootPath}|$table".getBytes("UTF-8"))
    val snapshots = versions.zipWithIndex.map { case (v, i) =>
      val op = chains(v).last.kind match {
        case "full" => "overwrite"
        case "append" => "append"
        case "mor_delete" => "delete"
        case _ => "overwrite" // upsert/revise: deletes + adds
      }
      val parent = if (i == 0) "" else s""""parent-snapshot-id":${versions(i - 1)},"""
      // v3 row lineage: the snapshot records the id range it assigned —
      // the head segment's stamps (the snapshot ADDED that segment)
      val lineage =
        if (!v3) ""
        else {
          val head = chains(v).last.v
          s""""first-row-id":${segFirstRowId.getOrElse(head, 0L)},""" +
            s""""added-rows":${segAddedRows.getOrElse(head, 0L)},"""
        }
      s"""{"snapshot-id":$v,$parent"sequence-number":$v,$lineage"timestamp-ms":$now,""" +
        s""""summary":{"operation":"$op"},"manifest-list":"${Json.escape(listPaths(v))}","schema-id":0}"""
    }.mkString("[", ",", "]")
    val snapshotLog = versions
      .map(v => s"""{"timestamp-ms":$now,"snapshot-id":$v}""").mkString("[", ",", "]")
    val specsJson = specsById.toSeq.sortBy(_._1).map { case (id, fields) =>
      s"""{"spec-id":$id,"fields":${specFieldsJson(fields)}}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":$formatVersion,"table-uuid":"$uuid","location":"${Json.escape(destDir)}",""" +
        (if (v3) s""""next-row-id":$nextRowIdTotal,""" else "") +
        s""""last-sequence-number":$cur,"last-updated-ms":$now,"last-column-id":$lastColumnId,""" +
        s""""current-schema-id":0,"schemas":[$schemaJson],""" +
        s""""default-spec-id":0,"partition-specs":$specsJson,""" +
        s""""last-partition-id":${999 + spec0Fields.size},""" +
        s""""default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],""" +
        s""""properties":{},"current-snapshot-id":$cur,"snapshots":$snapshots,""" +
        s""""snapshot-log":$snapshotLog,"metadata-log":[],""" +
        s""""refs":{"main":{"snapshot-id":$cur,"type":"branch"}}}"""
    // UNPADDED v<N>.metadata.json: HadoopTableOperations resolves
    // version-hint.text to exactly this spelling — a padded name loads
    // in graft's importer but not in external HadoopCatalog readers
    val mdPath = new Path(metaDir, s"v$cur.metadata.json")
    AtomicFs.replaceSmall(fs(mdPath), mdPath, json)
    AtomicFs.replaceSmall(fs(mdPath), new Path(metaDir, "version-hint.text"), cur.toString)
    fs(mdPath).makeQualified(mdPath).toString
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Replay each `mor_patch` segment's chain prefix into concrete
    * POSITION DELETES — (file_path, pos) rows naming exactly the
    * copies exceptAll removes:
    *
    *  1. prefix data rows enter with (sequence, file, row_index)
    *     coordinates from `_metadata`, then are SEMI-JOINED against
    *     the patch del values — every later stage is DELTA-sized;
    *  2. key-addressed MOR segments in the prefix stamp each row with
    *     its kill sequence (the first later segment whose key set
    *     matches — exactly the strictly-earlier equality-delete gating
    *     the import applies), so the replay never consumes a copy
    *     Iceberg's own delete application already removed;
    *  3. per row-value group, del events consume one LIVE copy each in
    *     (sequence, file, pos) order. All copies in a group are
    *     identical full rows and every live copy at a del's sequence
    *     shares the same future kill fate, so the deterministic choice
    *     cannot change any snapshot's resolved multiset — and replays
    *     for different patches of one chain stay mutually consistent.
    *
    * The per-group replay is genuine per-partition imperative logic
    * (multiset consumption with state), hence the one RDD hop.
    * Output: one sorted parquet per patch version under
    * `destDir/deletes/`, with the spec's reserved field ids 2147483546
    * (file_path) / 2147483545 (pos) stamped via Spark's parquet
    * field-id support. Returns patch version → (file path, length). */
  private def buildPatchPositionDeletes(
      st: SnapshotTables, table: String, spark: org.apache.spark.sql.SparkSession,
      segFiles: Map[Int, Seq[(String, Long, Seq[(String, String)], Boolean, Boolean, Boolean)]],
      patchSegs: Seq[SnapshotTables.VersionMeta],
      tableSchema: StructType, destDir: String): Map[Int, (String, Long)] = {
    import org.apache.spark.sql.functions._
    val userCols = tableSchema.fieldNames.toSeq
    val hconf = spark.sparkContext.hadoopConfiguration

    patchSegs.flatMap { p =>
      val prefix = st.chainOf(table, p.v).init
      val dataParts = prefix.flatMap { m =>
        val files = segFiles(m.v).filter(_._4).map(_._1)
        if (files.isEmpty) None
        else Some(spark.read.parquet(files: _*)
          .select(userCols.map(col) ++ Seq(
            lit(m.v.toLong).as("__seq"),
            col("_metadata.file_path").as("__file"),
            col("_metadata.row_index").as("__pos")): _*))
      }
      val delSegs = (prefix.filter(_.kind == "mor_patch") :+ p).flatMap { q =>
        val files = segFiles(q.v).filter(_._6).map(_._1)
        if (files.isEmpty) None
        else Some(spark.read.parquet(files: _*)
          .select(userCols.map(col): _*)
          .withColumn("__dseq", lit(q.v.toLong)))
      }
      if (dataParts.isEmpty || delSegs.isEmpty) None
      else {
        var data = dataParts.reduce(_ unionByName _)
        // kill stamps: later key-addressed segments remove ALL earlier
        // copies of a matching key (plain equi-join — graft's key
        // matching never touches NULL keys, and null-keyed deltas were
        // refused above)
        val killSegs = prefix.filter(m => Set("mor_upsert", "mor_delete", "mor_revise")(m.kind))
        var ki = 0
        killSegs.foreach { m =>
          val kf = segFiles(m.v).filter(_._5).map(_._1)
          if (kf.nonEmpty) {
            val keys = spark.read.parquet(kf: _*).select(m.keyCols.map(col): _*)
              .distinct().withColumn(s"__k$ki", lit(m.v.toLong))
            data = data.join(broadcast(keys), m.keyCols, "left")
            ki += 1
          }
        }
        val killCols = (0 until ki).map(i => s"__k$i")
        val killExprs = killCols.map(k => when(col(k) > col("__seq"), col(k)))
        val withKill = (killExprs.size match {
          case 0 => data.withColumn("__kill", lit(null).cast("long"))
          case 1 => data.withColumn("__kill", killExprs.head)
          case _ => data.withColumn("__kill", least(killExprs: _*))
        }).drop(killCols: _*)

        val dels = delSegs.reduce(_ unionByName _)
        val delVals = dels.select(userCols.map(col): _*).distinct()
        val semiCond = userCols.map(c => withKill(c) <=> delVals(c)).reduce(_ && _)
        val cand = withKill.join(delVals, semiCond, "left_semi")
        val posList = cand.groupBy(userCols.map(col): _*)
          .agg(collect_list(struct(col("__seq"), col("__file"), col("__pos"), col("__kill")))
            .as("__ps"))
        val delCounts = dels.groupBy((userCols :+ "__dseq").map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .groupBy(userCols.map(col): _*)
          .agg(collect_list(struct(col("__dseq"), col("__n"))).as("__ds"))
        val joinCond = userCols.map(c => posList(c) <=> delCounts(c)).reduce(_ && _)
        val joined = posList.join(delCounts, joinCond, "inner")
          .select(posList("__ps"), delCounts("__ds"))

        val targetV = p.v.toLong
        val outRows = joined.rdd.flatMap { r =>
          val ps = r.getSeq[org.apache.spark.sql.Row](0)
            .map(x => (x.getLong(0), x.getString(1), x.getLong(2),
              if (x.isNullAt(3)) Long.MaxValue else x.getLong(3)))
            .sortBy(t => (t._1, t._2, t._3))
          val ds = r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
          val consumed = new Array[Boolean](ps.length)
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          ds.foreach { case (dseq, cnt) =>
            var need = cnt
            var i = 0
            while (need > 0 && i < ps.length) {
              val (seq, file, pos, kill) = ps(i)
              if (!consumed(i) && seq < dseq && kill > dseq) {
                consumed(i) = true
                need -= 1
                if (dseq == targetV) out += org.apache.spark.sql.Row(file, pos)
              }
              i += 1
            }
          }
          out
        }
        val pdSchema = StructType(Seq(
          StructField("file_path", StringType, nullable = false,
            new MetadataBuilder().putLong("parquet.field.id", 2147483546L).build()),
          StructField("pos", LongType, nullable = false,
            new MetadataBuilder().putLong("parquet.field.id", 2147483545L).build())))
        val outDF = spark.createDataFrame(outRows, pdSchema)
          .coalesce(1).sortWithinPartitions(col("file_path"), col("pos"))
        val outDir = new Path(destDir, f"deletes/pd-${p.v}%05d")
        val prevConf = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        try outDF.write.mode("overwrite").parquet(outDir.toString)
        finally prevConf match {
          case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
          case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
        }
        val f = outDir.getFileSystem(hconf)
        val leaf = f.listStatus(outDir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (leaf.isEmpty) None
        else {
          require(leaf.length == 1, s"expected one position-delete file under $outDir")
          Some(p.v -> (f.makeQualified(leaf.head.getPath).toString, leaf.head.getLen))
        }
      }
    }.toMap
  }

  /** Per-file, per-column stats of a manifest entry (footer stats when
    * written; any may be absent when read from a foreign manifest).
    * `nullCount`/bounds are absent whenever a footer can't vouch for
    * them — Iceberg treats absent stats as "no information", so the
    * export can only ever narrow pruning, never corrupt it. */
  private[io] final case class ColFileStats(
      valueCount: Option[Long], nullCount: Option[Long],
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])
  private[io] final case class FileStats(rows: Long, cols: Map[String, ColFileStats])

  /** Executor-side footer read: record count plus per-wanted-column
    * (value count, null count, serialized bounds). Any per-column
    * surprise degrades to "no stats for that column", never a failure. */
  private[io] def footerStats(abs: String, conf: org.apache.hadoop.conf.Configuration,
      wanted: Map[String, String]): FileStats = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val cols = wanted.flatMap { case (name, kind) =>
        scala.util.Try {
          val chunks = blocks.flatMap(_.getColumns.asScala).filter(_.getPath.toDotString == name)
          if (chunks.isEmpty) None
          else {
            val vc = chunks.map(_.getValueCount).sum
            val stats = chunks.map(_.getStatistics)
            val statsOk = stats.forall(_ != null)
            val nc =
              if (statsOk && stats.forall(_.isNumNullsSet)) Some(stats.map(_.getNumNulls).sum)
              else None
            val haveBounds = statsOk && stats.forall(_.hasNonNullValue)
            val (lo, hi) =
              if (!haveBounds) (None, None) // e.g. an all-null file: counts only
              else (
                Some(serializeBound(
                  stats.map(_.genericGetMin.asInstanceOf[AnyRef]).reduce(boundMin(kind)), kind)),
                Some(serializeBound(
                  stats.map(_.genericGetMax.asInstanceOf[AnyRef]).reduce(boundMax(kind)), kind)))
            Some(name -> ColFileStats(Some(vc), nc, lo, hi))
          }
        }.toOption.flatten
      }
      FileStats(rows, cols)
    } finally r.close()
  }

  private def cmpBound(kind: String)(a: AnyRef, b: AnyRef): Int = kind match {
    case "int" | "date" => a.asInstanceOf[java.lang.Integer].compareTo(b.asInstanceOf[java.lang.Integer])
    case "long" | "ts" => a.asInstanceOf[java.lang.Long].compareTo(b.asInstanceOf[java.lang.Long])
    case "float" => a.asInstanceOf[java.lang.Float].compareTo(b.asInstanceOf[java.lang.Float])
    case "double" => a.asInstanceOf[java.lang.Double].compareTo(b.asInstanceOf[java.lang.Double])
    case "string" => // unsigned byte-wise, the stat writer's own ordering
      val x = a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
      val y = b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
  }
  private def boundMin(kind: String)(a: AnyRef, b: AnyRef): AnyRef =
    if (cmpBound(kind)(a, b) <= 0) a else b
  private def boundMax(kind: String)(a: AnyRef, b: AnyRef): AnyRef =
    if (cmpBound(kind)(a, b) >= 0) a else b

  /** Iceberg single-value binary serialization (spec Appendix D):
    * little-endian fixed width for numerics/date/timestamp, raw UTF-8
    * for strings. */
  private def serializeBound(v: AnyRef, kind: String): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    kind match {
      case "int" | "date" =>
        ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(v.asInstanceOf[java.lang.Integer]).array()
      case "long" | "ts" =>
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(v.asInstanceOf[java.lang.Long]).array()
      case "float" =>
        ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putFloat(v.asInstanceOf[java.lang.Float]).array()
      case "double" =>
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putDouble(v.asInstanceOf[java.lang.Double]).array()
      case "string" => v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
    }
  }
}
