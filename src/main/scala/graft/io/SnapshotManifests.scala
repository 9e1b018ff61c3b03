package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode}

/** The manifest side of [[SnapshotTables]]: the per-file stats
  * manifests a commit writes, and every answer read from them — file
  * skipping for the pruned readers and the SQL scan, metadata counts and
  * aggregates. Each answer is a thin entry point over the rules in the
  * companion object, fed by one loader ([[manifestOf]]). */
private[io] trait SnapshotManifests { self: SnapshotTables =>
  import SnapshotTables.VersionMeta
  import SnapshotReads.ChainScan
  import SnapshotReads.ChainDir.rowsOf

  private[io] def manifestPath(table: String, v: Int): Path =
    new Path(metaDir(table), f"v$v%05d-manifest.parquet")

  /** Build the per-file stats manifest for version `v`: list the data
    * files (recursively — partitioned layouts nest), then read each
    * file's parquet FOOTER and reduce row-group stats to one (min, max,
    * nulls, rows) row per (file, column); sketch columns add one data
    * pass that builds a Bloom bitmap per (file, column). Footers are
    * read once and the data pass runs once, inside the manifest write.
    * At a 100k-file table the driver only handles the file-name list. */
  private[io] def writeManifest(table: String, v: Int, statsCols: Seq[String], sketchCols: Seq[String] = Nil): Unit = {
    val meta = versionMeta(table, v)
    val base = dataDirOfMeta(table, meta)
    val f = fs(base)
    // listFiles returns fully-qualified URIs (file:/..., hdfs://...);
    // qualify the base the same way or the relativization silently
    // no-ops and the manifest stores absolute paths
    val baseStr = f.makeQualified(base).toString.stripSuffix("/") + "/"
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = f.listFiles(base, true)
    while (it.hasNext) {
      val s = it.next()
      // hidden-ness applies to EVERY path component under the snapshot
      // root, not just the file name: files under a hidden dir must not
      // leak into the manifest (readPruned would then return rows a
      // plain read does not see)
      val rel = s.getPath.toString.stripPrefix(baseStr)
      if (s.isFile && rel.endsWith(".parquet") && !SnapshotManifests.hidden(rel))
        files += s.getPath.toString
    }
    if (files.isEmpty) return
    val wanted = statsCols.toSet
    val session = sparkSession
    import session.implicits._
    // Small-commit fast path (r20 optimization, same budgeted-driver
    // rationale as the round-13 planning fast path): for a handful of
    // files, a distributed footer job costs more in scheduling than the
    // footer reads themselves — profiled at ~35 % of q111's wall. Under
    // the budget the same per-footer reduction runs on the driver and
    // the manifest writes from a LocalRelation; a 100k-file table
    // still takes the distributed path, so the driver never handles
    // more than the budget.
    val driverFooterBudget = session.conf.getOption("graft.manifest.driverFooterBudget")
      .map(_.toInt).getOrElse(64)
    // (the file's row count, one stats row per footer column wanted)
    def footerRows(abs: String, conf: org.apache.hadoop.conf.Configuration)
        : (Long, Seq[(String, Long, String, Option[Double], Option[Double], Option[String], Option[String], Long)]) = {
        import scala.jdk.CollectionConverters._
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(abs), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val rel = abs.stripPrefix(baseStr)
          rows -> blocks
            .flatMap(_.getColumns.asScala)
            .filter(c => wanted.contains(c.getPath.toDotString))
            .groupBy(_.getPath.toDotString)
            .toSeq
            .map { case (cname, chunks) =>
              var mnN: Option[Double] = None; var mxN: Option[Double] = None
              var mnS: Option[String] = None; var mxS: Option[String] = None
              var nulls = 0L
              chunks.foreach { c =>
                val st = c.getStatistics
                if (st != null) {
                  nulls += st.getNumNulls
                  if (st.hasNonNullValue) c.getPrimitiveType.getPrimitiveTypeName match {
                    case INT32 | INT64 | FLOAT | DOUBLE =>
                      val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
                      val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
                      mnN = Some(mnN.fold(lo)(math.min(_, lo)))
                      mxN = Some(mxN.fold(hi)(math.max(_, hi)))
                    case BINARY =>
                      val lo = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                      val hi = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                      mnS = Some(mnS.fold(lo)(a => if (a <= lo) a else lo))
                      mxS = Some(mxS.fold(hi)(a => if (a >= hi) a else hi))
                    case _ => () // other physical types: left statless (file kept conservatively)
                  }
                }
              }
              (rel, rows, cname, mnN, mxN, mnS, mxS, nulls)
            }
        } finally reader.close()
      }
    val statCols = Seq("file", "rows", "column", "min_num", "max_num", "min_str", "max_str", "nulls")
    val footers =
      if (files.size <= driverFooterBudget) {
        // footer opens are independent metadata reads — do them
        // concurrently (latency ≈ max, not sum), same shape as the
        // IcebergImport footer probe
        val conf = session.sparkContext.hadoopConfiguration
        Left(
          if (files.size > 4) {
            import scala.collection.parallel.CollectionConverters._
            val pc = files.toSeq.par
            pc.tasksupport = new scala.collection.parallel.ExecutionContextTaskSupport(
              scala.concurrent.ExecutionContext.global)
            pc.map(footerRows(_, conf)).seq
          } else files.toSeq.map(footerRows(_, conf)))
      } else {
        // one job reads every footer into cached blocks that the
        // manifest write then reads back
        val confSer = new org.apache.spark.SerializableWritable(session.sparkContext.hadoopConfiguration)
        Right(session.sparkContext
          .parallelize(files.toSeq, math.max(1, math.min(files.size, 64)))
          .map(abs => footerRows(abs, confSer.value))
          .persist())
      }
    try {
      val (stats, hasStats, hasRows) = footers match {
        case Left(per) =>
          val rows = per.flatMap(_._2)
          (rows.toDF(statCols: _*), rows.nonEmpty, per.exists(_._1 > 0))
        case Right(per) =>
          val (s, r) = per.map(p => (p._2.nonEmpty, p._1 > 0))
            .fold((false, false))((a, b) => (a._1 || b._1, a._2 || b._2))
          (per.flatMap(_._2).toDF(statCols: _*), s, r)
      }
      // the files' own columns and types (partition columns live in dir
      // names, not file data) — the committed schema, so the sketch
      // pass starts no inference job
      lazy val dataSchema = org.apache.spark.sql.types.StructType(
        dirsOf(table, meta).flatMap(_.schema.fields).distinctBy(_.name)
          .filterNot(c => meta.partitionCols.contains(c.name) || c.name.startsWith("__p_")))
      val present = sketchCols.filter(c => dataSchema.fieldNames.contains(c))
      // An all-empty manifest must not exist: statsCols naming only
      // partition columns (which live in dir names, not footers) would
      // otherwise write a manifest with ZERO rows, and a pruned read
      // over it would see no files AT ALL. No manifest = honest "nothing
      // to prune with". Sketch rows exist iff a sketch column is in the
      // files and some file holds a row.
      if (!hasStats && (present.isEmpty || !hasRows)) return
      val manifest =
        if (present.isEmpty) withSketchSchema(stats)
        else {
          // Membership sketches need one DATA pass over the committed
          // files (footers don't carry value sets): one distributed scan
          // computes every sketch column's bitmap per file in a single
          // grouped aggregation — partial aggregation applies (the OR is
          // associative/commutative), so each task ships one fixed-size
          // bitmap per (file, column), never row data.
          import org.apache.spark.sql.functions._
          val bloom = udaf(new graft.functions.BloomSketchAggregator(sketchBits, sketchHashes),
            org.apache.spark.sql.Encoders.scalaLong)
          // input_file_name() may spell the scheme differently from
          // makeQualified (file:/ vs file:///): relativize against both
          val variants = Seq(baseStr, baseStr.replaceFirst("^file:/(?!/)", "file:///")).distinct
          val relExpr = variants.foldLeft(col("__file")) { (acc, p) =>
            when(col("__file").startsWith(p), col("__file").substr(lit(p.length + 1), lit(Int.MaxValue))).otherwise(acc)
          }
          val grouped = session.read.schema(dataSchema).parquet(files.toSeq: _*)
            .select(input_file_name().as("__file") +: present.map(c => xxhash64(col(c)).as(s"__h_$c")): _*)
            .groupBy(relExpr.as("file"))
            .agg(bloom(col(s"__h_${present.head}")).as(s"__s_${present.head}"),
              present.tail.map(c => bloom(col(s"__h_$c")).as(s"__s_$c")): _*)
          val sketches = grouped.select(col("file"),
            explode(map(present.flatMap(c => Seq(lit(c), col(s"__s_$c"))): _*)).as(Seq("column", "sketch")))
            .withColumn("sketch_bits", lit(sketchBits))
            .withColumn("sketch_hashes", lit(sketchHashes))
          // one row per (file, column): stats and sketch merge where a
          // column carries both; a sketch-only column's row has null
          // stats (kept conservatively by every range read)
          withSketchSchema(stats).drop("sketch", "sketch_bits", "sketch_hashes")
            .join(sketches, Seq("file", "column"), "full_outer")
        }
      manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(manifestPath(table, v).toString)
    } finally footers.foreach(_.unpersist(blocking = false))
  }

  /** Align a stats-only frame to the full manifest schema (null sketch
    * columns) so manifests are uniform whether or not the table keeps
    * membership sketches. */
  private def withSketchSchema(stats: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    stats
      .withColumn("sketch", lit(null).cast("array<bigint>"))
      .withColumn("sketch_bits", lit(null).cast("int"))
      .withColumn("sketch_hashes", lit(null).cast("int"))
  }

  /** Upper bound on the pruned file-name list the pruned readers will
    * materialize on the driver and inline into the scan's path list.
    * At the 100 TB point a table can hold millions of files, and a
    * weak predicate can keep most of them — enumerating that as a
    * driver array + per-path scan entries costs more than it saves
    * (path-list planning is itself O(files)), and the driver list is
    * the only non-metadata-sized allocation in the read path. Past the
    * limit the segment reads whole, which is never wrong: manifest
    * pruning is a file-SKIPPING layer and the caller always still
    * applies its row-level predicate. Every pruned read applies it, the
    * SQL scan included. Tunable per session (specs set it low to
    * exercise the fallback). */
  private def maxPrunedFileList: Int = intConf("graft.manifest.maxFileList", 10000, 1)

  /** Driver-row budget for the planning fast path: a segment manifest
    * at most this many rows is collected once (then LRU-cached — see
    * [[SnapshotTables.manifestCache]]) and every pruning / metadata-
    * aggregate decision on it is pure in-memory work; a bigger
    * manifest is evaluated by the same functions in one Spark job (at
    * that scale the scan being saved dwarfs the planning job). */
  private def manifestDriverRows: Int = intConf("graft.scan.manifestDriverRows", 65536, 0)

  /** Session conf `key` as an int of at least `min` (0 or 1). */
  private def intConf(key: String, default: Int, min: Int): Int =
    sparkSession.conf.getOption(key).fold(default) { raw =>
      raw.trim.toIntOption.filter(_ >= min).getOrElse(throw new IllegalArgumentException(
        s"$key must be a ${if (min > 0) "positive" else "non-negative"} int, got '$raw'"))
    }

  /** The manifest of segment version `v` as read: with the columns its
    * writer gave it, or in `schema`. */
  private def manifestParquet(table: String, v: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val mp = manifestPath(table, v)
    cachedParquet(mp, schema).getOrElse(sparkSession.read.parquet(mp.toString))
  }

  /** The manifest of segment version `v` as typed rows — a lazy read in
    * the schema the writer writes, so no footer is inferred; a column an
    * older writer did not write reads as absent. */
  private def manifestFrame(table: String, v: Int): Dataset[SnapshotTables.MRow] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    manifestParquet(table, v, Some(SnapshotManifests.ReadSchema))
      .select(col("file"), col("column"), col("rows"), col("nulls"),
        col("min_num").as("minNum"), col("max_num").as("maxNum"),
        col("min_str").as("minStr"), col("max_str").as("maxStr"), col("sketch"),
        coalesce(col("sketch_bits").cast("long"), lit(0L)).as("sketchBits"),
        coalesce(col("sketch_hashes"), lit(0)).as("sketchHashes"))
      .as[SnapshotTables.MRow](Encoders.product[SnapshotTables.MRow])
  }

  /** THE manifest loader: segment version `v`'s manifest as a
    * [[SnapshotTables.ManifestVerdict]] — missing (none, or one with no
    * rows: nothing to prune or count with), unreadable, its rows when
    * within [[manifestDriverRows]], or over budget. A verdict is
    * collected once and LRU-cached per manifest state. */
  private[io] def manifestOf(table: String, v: Int): SnapshotTables.ManifestVerdict = {
    val mp = manifestPath(table, v)
    val st =
      try fs(mp).getFileStatus(mp)
      catch { case _: java.io.FileNotFoundException => null }
    if (st == null) return SnapshotTables.ManifestMissing
    // the dir's mtime is part of the key: a manifest read while its
    // write was still landing gets a fresh verdict once it has landed
    val key = s"${fs(mp).makeQualified(mp)}@${st.getModificationTime}"
    SnapshotTables.manifestCache.synchronized(Option(SnapshotTables.manifestCache.get(key))).getOrElse {
      val lim = manifestDriverRows
      val res =
        try {
          val taken = manifestFrame(table, v).limit(lim + 1).collect()
          if (taken.isEmpty) SnapshotTables.ManifestMissing
          else if (taken.length > lim) SnapshotTables.ManifestOverBudget
          else SnapshotTables.ManifestRows(taken.toSeq)
          // unreadable: every caller reads the segment whole or declines, giving a plain scan's answer
        } catch { case _: Exception => SnapshotTables.ManifestUnreadable }
      SnapshotTables.manifestCache.synchronized(SnapshotTables.manifestCache.put(key, res))
      res
    }
  }

  /** Whether segment `s` holds no rows — no data files, or only empty
    * ones (a zero-row file has no footer stats to manifest). */
  private def segmentEmpty(table: String, s: VersionMeta): Boolean =
    rowsOf(dirsOf(table, s)).forall(_.isEmpty)

  /** xxhash64 of a probe value as the sketch pass hashed the column:
    * the value cast to the files' type, evaluated on the driver
    * (planning starts no job). None — no membership test — when the
    * value does not cast to that type. */
  private def probeHash(ext: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, XxHash64}
    val le = org.apache.spark.sql.GraftSqlBridge.eagerExpression(org.apache.spark.sql.functions.lit(ext))
    val casted =
      if (le.dataType == dt) le
      else Cast(le, dt, Some(sparkSession.sessionState.conf.sessionLocalTimeZone))
    scala.util.Try(new XxHash64(Seq(casted), 42L).eval(null).asInstanceOf[Long]).toOption
  }

  /** Segment `seg`'s kept files under `bounds` and `probes` (IN-lists
    * of (external lit()-compatible value, physical value) pairs):
    * Some((kept names, manifest file count)), or None when the segment
    * reads whole — no usable manifest, or more kept files than
    * [[maxPrunedFileList]]. Probe values hash under the segment's own
    * column type, the type its sketches were built over. */
  private def segmentKeep(table: String, scan: ChainScan, seg: VersionMeta,
      bounds: Seq[SnapshotManifests.Bound],
      probes: Seq[(String, Seq[(Any, Any)])]): Option[(Seq[String], Long)] = {
    lazy val hashed: Seq[SnapshotManifests.Probe] = probes.map { case (c, vs) =>
      val dt = scan.dir(seg).flatMap(_.schema.find(_.name == c)).getOrElse(scan.schema(c)).dataType
      c -> vs.map { case (ext, phys) => (phys, probeHash(ext, dt)) }
    }
    val lim = maxPrunedFileList
    val kept = manifestOf(table, seg.v) match {
      case SnapshotTables.ManifestRows(rs) => SnapshotManifests.keptFiles(rs, bounds, hashed)
      case SnapshotTables.ManifestOverBudget =>
        SnapshotManifests.keptFilesJob(manifestFrame(table, seg.v), bounds, hashed, lim)
      case _ => return None
    }
    Option.when(kept._1.length <= lim)(kept)
  }

  /** An append-only chain's rows, each segment whole (None) or cut to
    * its kept files. */
  private def prunedRead(scan: ChainScan, kept: Seq[(VersionMeta, Option[(Seq[String], Long)])]): DataFrame = {
    val parts = kept.flatMap {
      case (s, None) => scan.dir(s).map(_.rows)
      case (s, Some((files, _))) =>
        if (files.isEmpty) None else scan.dir(s).map(d => d.copy(raw = filesOf(d, files)).rows)
    }
    if (parts.isEmpty) readScan(scan).where(org.apache.spark.sql.functions.lit(false))
    else parts.reduce(_ unionByName _)
  }

  /** Scan of the current version restricted to the files whose
    * manifest stats MAY contain `column` ∈ [lo, hi] (numeric bounds
    * for numeric columns, string bounds for string columns). Files
    * with no stats for the column are kept conservatively; a version
    * without a manifest falls back to the full snapshot scan. The only
    * driver-side materialization is the pruned FILE-NAME list (same
    * deliberate trade as the LSH index's bucket IN-pushdown). The
    * caller still applies its row-level predicate — manifest pruning
    * is a file-skipping layer, not a filter. Temporal columns carry
    * stats in their parquet physical unit (DATE → days since epoch,
    * TIMESTAMP → micros), so bounds must be passed in that unit. */
  def readPruned(table: String, statColumn: String, lo: Any, hi: Any): DataFrame =
    readPrunedBox(table, Seq((statColumn, lo, hi)))

  /** Multi-predicate manifest pruning: a file survives only if its
    * stats intersect EVERY (column, lo, hi) bound — the read side of a
    * z-ordered snapshot commit, where per-file ranges are tight on all
    * cluster columns at once and a box predicate drops most files.
    * Same conservativeness and fallback rules as [[readPruned]]. */
  def readPrunedBox(table: String, bounds: Seq[(String, Any, Any)]): DataFrame = {
    require(bounds.nonEmpty, "readPrunedBox needs at least one bound")
    bounds.foreach { case (c, lo, hi) =>
      require(lo.isInstanceOf[String] == hi.isInstanceOf[String],
        s"bound on '$c' mixes string and numeric endpoints — it would mis-prune silently")
    }
    val scan = chainScan(table, currentVersion(table))
    // merge-on-read segments rewrite/subtract rows at RESOLUTION time —
    // per-file skipping over the raw segments could resurrect deleted
    // rows; read resolved until materialize()/compact()
    if (!scan.appendOnly) return readScan(scan)
    // append-only chain: each segment prunes independently against its
    // OWN manifest (appends keep writing them), results union — file
    // skipping survives O(delta) commits
    val b = bounds.map { case (c, lo, hi) => (c, Option(lo), Option(hi)) }
    prunedRead(scan, scan.segs.map(s => s -> segmentKeep(table, scan, s, b, Nil)))
  }

  /** Point-lookup pruned scan: `column IN (values)` answered by the
    * manifest's per-file Bloom membership sketches (plus min/max range
    * stats when present) — the file-skipping shape range stats cannot
    * give: a probe value inside every file's [min,max] (the normal
    * case for a high-cardinality key in an unsorted table) skips
    * nothing by range, while the sketch skips every file that never
    * saw the value, at ~(1−e^(−k·d/m))^k false-positive rate.
    *
    * Probe values are hashed on the driver with the SAME
    * xxhash64-on-column-type the build pass used; the range test
    * applies to string and numeric columns. Files with no sketch and
    * no stats for the column are kept conservatively; a version with
    * no manifest falls back to the full scan. As with every pruning
    * layer here, false positives only KEEP files and the caller still
    * applies the row-level predicate — pruning can never change
    * answers (oracle-pinned by the q113 corpus entry). */
  def readPrunedIn(table: String, statColumn: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "readPrunedIn needs at least one probe value")
    val scan = chainScan(table, currentVersion(table))
    // same rule as readPrunedBox: merge-on-read chains read resolved;
    // an unknown column reads whole
    if (!scan.appendOnly || !scan.schema.fieldNames.contains(statColumn)) return readScan(scan)
    val ranged = scan.schema(statColumn).dataType match {
      case org.apache.spark.sql.types.StringType | _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    val probe = statColumn -> values.map(v => (v, if (ranged) v else null))
    prunedRead(scan, scan.segs.map(s => s -> segmentKeep(table, scan, s, Nil, Seq(probe))))
  }

  /** File-skipping decision for a SQL scan of version `version` — the
    * planning-time half of X112 ([[graft.plans.ScanPruneRule]] calls
    * this at optimize time; Iceberg prunes data files against manifest
    * column bounds during scan planning the same way). `bounds` are
    * per-column closed ranges with optional endpoints, values in the
    * stats manifest's physical unit (DATE → days, TIMESTAMP → micros,
    * strings as String, numerics as-is); `probes` are per-column
    * IN-lists of (external lit()-compatible value, physical value)
    * pairs answered by the Bloom sketches AND per-value range checks —
    * so a probe on a stats-only column still range-prunes, and a
    * sketch column still prunes when the value sits inside every
    * file's [min,max]. Returns the pruned read ONLY when at least one
    * segment's keep-list provably skips a file; merge-on-read segments,
    * schema evolution, missing manifests or a zero-skip outcome return
    * None and the caller leaves the plan untouched — a None never
    * costs correctness, and a Some only drops files whose stats prove
    * no row can match (the caller keeps the row-level Filter above the
    * substituted scan, exactly like the Scala pruned reads). */
  def pruneForScan(table: String, ver: Int,
      bounds: Seq[(String, Option[Any], Option[Any])],
      probes: Seq[(String, Seq[(Any, Any)])]): Option[DataFrame] = {
    if ((bounds.isEmpty && probes.isEmpty) || ver <= 0) return None
    val scan = chainScan(table, ver)
    if (!scan.appendOnly) return None
    val known = probes.filter { case (c, vs) => vs.nonEmpty && scan.schema.fieldNames.contains(c) }
    if (bounds.isEmpty && known.isEmpty) return None
    val kept = scan.segs.map(s => s -> segmentKeep(table, scan, s, bounds, known))
    val skipped = kept.exists { case (_, k) => k.exists { case (files, total) => files.length < total } }
    Option.when(skipped)(prunedRead(scan, kept))
  }

  /** What the manifests of `segs` prove about `columns` over the files
    * under `partTokens` ([[SnapshotManifests.Summary]]); Left(why) when
    * a segment holding rows has no manifest or an unreadable one.
    * Within-budget manifests are summarized on the driver, the rest in
    * one Spark job. */
  private def chainSummary(table: String, segs: Seq[VersionMeta], columns: Seq[String],
      partTokens: Seq[String]): Either[String, SnapshotManifests.Summary] = {
    import SnapshotManifests.{emptySummary, fileSummaries, summaryOf, total}
    val verdicts = segs.map(s => s -> manifestOf(table, s.v))
    verdicts.collectFirst {
      case (s, SnapshotTables.ManifestUnreadable) => s"stats manifest of $table v${s.v} is unreadable"
      case (s, SnapshotTables.ManifestMissing) if !segmentEmpty(table, s) =>
        s"table $table v${s.v} has no stats manifest — commit with statsCols first"
    }.toLeft {
      val local = verdicts.collect { case (_, SnapshotTables.ManifestRows(rs)) => summaryOf(rs, columns, partTokens) }
      val remote = verdicts.collect { case (s, SnapshotTables.ManifestOverBudget) =>
        fileSummaries(manifestFrame(table, s.v), columns, partTokens)
      }
      val fromJob = if (remote.isEmpty) Nil else total(remote.reduce(_ union _)).collect().toSeq
      (local ++ fromJob).foldLeft(emptySummary(columns.size))(SnapshotManifests.merge)
    }
  }

  /** [[chainSummary]] for a SQL scan of version `ver`: None when the
    * chain has merge-on-read or schema-evolved segments, or a manifest
    * cannot answer — the caller then keeps the real scan. */
  private def scanSummary(table: String, ver: Int, columns: Seq[String],
      partTokens: Seq[String]): Option[SnapshotManifests.Summary] = try {
    val segs = chainOf(table, ver)
    if (segs.exists(s => (s.kind != "full" && s.kind != "append") || s.schemaEvolved)) None
    else chainSummary(table, segs, columns, partTokens).toOption
  } catch { case _: Exception => None } // None keeps the real scan, which computes the same answer

  /** The segments of version `v` that carry a manifest, for the
    * whole-version manifest surfaces: merge-on-read chains have no
    * honest file-level story until the rewrite, and a segment holding
    * rows without a manifest leaves the version unanswerable. */
  private def manifestSegments(table: String, v: Int): Seq[VersionMeta] = {
    val segs = chainOf(table, v)
    require(segs.forall(s => s.kind == "full" || s.kind == "append"),
      s"table $table v$v has merge-on-read deltas pending — materialize()/compact() before " +
        "reading the manifest")
    val withManifest = segs.filter { s =>
      val mp = manifestPath(table, s.v)
      fs(mp).exists(mp) || {
        require(segmentEmpty(table, s),
          s"table $table v${s.v} has no stats manifest — commit with statsCols/sketchCols first")
        false
      }
    }
    require(withManifest.nonEmpty,
      s"table $table v$v has no stats manifest — commit with statsCols/sketchCols first")
    withManifest
  }

  /** The raw per-file stats manifest of the CURRENT version — one row
    * per (file, stats column): file, rows, column, min_num/max_num (or
    * min_str/max_str), nulls, plus membership-sketch columns when the
    * table commits with `sketchCols`. Iceberg's `files` metadata
    * relation, as a plain distributed DataFrame (manifest-sized —
    * metadata rows, never data); an append-only chain unions its
    * segments' manifests (file names stay relative to each segment's
    * own snapshot dir). SQL face: `graft_table_manifest('cat.ns.t')`. */
  def manifest(table: String): DataFrame =
    manifestSegments(table, currentVersion(table)).map(s => manifestParquet(table, s.v)).reduce(_ unionByName _)

  /** METADATA-ONLY aggregates of the current version from its stats
    * manifests — the scan-less answers Iceberg serves from its
    * manifests: row count, numeric min/max, and null count per
    * requested column, computed from the manifest parquet alone (no
    * data file is ever opened — spec-asserted via inputFiles). One
    * output row per requested column that has manifest rows:
    * (column, n_rows, min_num, max_num, n_nulls), ordered; a lazy frame.
    *
    * Honesty rules ([[SnapshotManifests.colStats]], the rules the SQL
    * metadata aggregates follow): row counts come from parquet footer
    * row counts, exact regardless of nulls; numeric min/max are exact
    * parquet column statistics; a field any file of the chain does not
    * cover is NULL rather than a silently-wrong bound over the covered
    * subset. String columns' footer bounds may be truncated by parquet
    * writers — bounds, not extrema — so this surface is numeric-only by
    * design. */
  def manifestAgg(table: String, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "manifestAgg needs at least one column")
    val cols = columns.distinct
    val perFile = manifestSegments(table, currentVersion(table))
      .map(s => SnapshotManifests.fileSummaries(manifestFrame(table, s.v), cols, Nil))
    SnapshotManifests.aggRows(SnapshotManifests.total(perFile.reduce(_ union _)), cols)
      .toDF().orderBy("column")
  }

  /** Per-partition file/row/byte stats of the CURRENT version — the
    * data behind the `<table>.partitions` metadata relation (Iceberg's
    * partitions table). One entry per live partition directory value
    * ("" for an unpartitioned table), aggregated over every chain
    * segment, with merge-on-read DELETE content (tombstone keys /
    * deleted-row images awaiting resolution) reported in separate
    * columns — file-level truth before MOR resolution, exactly how
    * Iceberg's partitions relation reports a table carrying delete
    * files. Row counts come from parquet footers read in ONE
    * distributed job (footer I/O never runs on the driver), the
    * per-(partition, side) aggregation happens in that job, and only
    * the |partitions|-sized result is collected — same sizing contract
    * as `.history`/`.refs`. */
  def partitionStats(table: String): Seq[SnapshotTables.PartitionStat] = {
    val v = currentVersion(table)
    if (v == 0) return Nil
    // (absPath, bytes, isDelete, partition) per live data file; the
    // partition is the file's directory run under its segment root
    // (identity `col=value` dirs and hidden `__p_*` dirs alike), with
    // the mor del/ add/ routing component stripped first
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean, String)]
    chainOf(table, v).foreach { m =>
      val base = dataDirOfMeta(table, m)
      val f = fs(base)
      if (f.exists(base)) {
        val baseStr = f.makeQualified(base).toString.stripSuffix("/") + "/"
        val it = f.listFiles(base, true)
        while (it.hasNext) {
          val s = it.next()
          val rel = s.getPath.toString.stripPrefix(baseStr)
          val comps = rel.split('/')
          if (s.isFile && rel.endsWith(".parquet") && !SnapshotManifests.hidden(rel)) {
            val (isDel, pcomps) = (m.kind, comps.head) match {
              case ("mor_delete", _) => (true, comps.dropRight(1))
              case ("mor_patch" | "mor_revise", "del") => (true, comps.drop(1).dropRight(1))
              case ("mor_patch" | "mor_revise", "add") => (false, comps.drop(1).dropRight(1))
              case _ => (false, comps.dropRight(1))
            }
            entries += ((s.getPath.toString, s.getLen, isDel, pcomps.mkString("/")))
          }
        }
      }
    }
    if (entries.isEmpty) return Nil
    val confSer = new org.apache.spark.SerializableWritable(sparkSession.sparkContext.hadoopConfiguration)
    sparkSession.sparkContext
      .parallelize(entries.toSeq, math.max(1, math.min(entries.size, 64)))
      .map { case (abs, bytes, isDel, part) =>
        import scala.jdk.CollectionConverters._
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(abs), confSer.value))
        val rows = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
                   finally reader.close()
        ((part, isDel), (1L, rows, bytes))
      }
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      .collect() // |partitions|-sized
      .groupBy(_._1._1)
      .map { case (part, sides) =>
        val data = sides.collectFirst { case ((_, false), t) => t }.getOrElse((0L, 0L, 0L))
        val del = sides.collectFirst { case ((_, true), t) => t }.getOrElse((0L, 0L, 0L))
        SnapshotTables.PartitionStat(part, data._1, data._2, data._3, del._1, del._2)
      }
      .toSeq.sortBy(_.partition)
  }

  /** Version-pinned, never-throwing metadata COUNT for the SQL
    * metadata-aggregate rule ([[graft.plans.MetadataAggRule]], X113):
    * Some(rows) only when every chain segment is full/append,
    * unevolved, and either empty or fully row-counted by its manifest
    * — anything else answers None and the caller keeps the real scan. */
  private[graft] def fastCountForScan(table: String, ver: Int): Option[Long] =
    manifestRowsForScan(table, ver, Nil)

  /** The identity partition columns of version `ver`'s chain when
    * EVERY segment was committed under exactly that layout (no hidden
    * `__p_*` transforms anywhere, no mixed layouts from partition-spec
    * evolution) — Nil otherwise. Partition-scoped metadata aggregates
    * (X114) may only trust partition-directory tokens under a uniform
    * identity layout: a segment written under an older spec has no
    * dirs for the queried column and its rows would silently vanish
    * from a token-filtered count. */
  private[graft] def uniformIdentityLayout(table: String, ver: Int): Seq[String] = try {
    val per = chainOf(table, ver).map(_.partitionCols)
    if (per.isEmpty || per.exists(_.exists(_.startsWith("__p_"))) || per.distinct.length != 1) Nil
    else per.head
  } catch { case _: Exception => Nil } // Nil declines the partition-scoped answer; the real scan gives it

  /** Version-pinned metadata row count of the files under the given
    * partition-directory tokens (X114 — `count(*)` scoped by identity-
    * partition equalities): Some only when every in-scope file carries
    * a manifest row count. Caller must have verified the layout via
    * [[uniformIdentityLayout]]; an empty token list counts the whole
    * version. */
  private[graft] def manifestRowsForScan(table: String, ver: Int,
      partTokens: Seq[String]): Option[Long] =
    scanSummary(table, ver, Nil, partTokens).flatMap(SnapshotManifests.rowCount)

  /** Version-pinned per-column manifest aggregate for the SQL
    * metadata-aggregate rule (X113): each field is present ONLY when
    * every file of every segment covers it, so a Some can never be a
    * bound over a subset. `min`/`max` are `Some(None)` when the column
    * is exactly all-NULL (provable from full rows+nulls coverage) and
    * `Some(Some(v))` when `v` is the exact extremum of the column's
    * non-null values; numeric physical units as in the manifest (DATE
    * days, TIMESTAMP micros). String bounds are never served — parquet
    * footer string stats may be truncated (bounds, not extrema).
    * `partTokens` (X114) scope every answer to the files under those
    * identity-partition directories — the caller must have verified
    * the layout via [[uniformIdentityLayout]]. */
  private[graft] def manifestStatsForScan(table: String, ver: Int, statColumn: String,
      partTokens: Seq[String] = Nil): Option[SnapshotTables.ColStats] =
    scanSummary(table, ver, Seq(statColumn), partTokens).map(SnapshotManifests.colStats(_, 0))

  /** Metadata-only COUNT(*) of the current version (manifest row
    * counts summed over the file set). Requires every file to carry a
    * row count (i.e. at least one statsCols column) — a partial sum
    * would be silently wrong. */
  def fastCount(table: String): Long = {
    val v = currentVersion(table)
    val segs = chainOf(table, v)
    // merge-on-read segments subtract/replace rows — summing segment
    // manifests would over-count; append-only chains sum exactly
    require(segs.forall(s => s.kind == "full" || s.kind == "append"),
      s"table $table v$v has merge-on-read deltas pending — fastCount needs materialized rows; " +
        "run materialize()/compact() first")
    segs.map { s =>
      val sum = chainSummary(table, Seq(s), Nil, Nil).fold(why => throw new IllegalArgumentException(why), identity)
      SnapshotManifests.rowCount(sum).getOrElse(throw new IllegalArgumentException(
        s"manifest of $table v${s.v} lacks row counts for some files — fastCount would be wrong"))
    }.sum
  }
}

/** The rules every manifest answer is made of, written once as plain
  * Scala over typed manifest rows ([[SnapshotTables.MRow]]): which files
  * a scan keeps, and what the files prove about row counts and column
  * stats. The caller runs them on the driver over a segment's cached
  * rows, or — for a manifest over `graft.scan.manifestDriverRows` — in
  * one Spark job over the same rows ([[keptFilesJob]],
  * [[fileSummaries]]). */
private[io] object SnapshotManifests {
  import SnapshotTables.{ColStats, MRow}

  /** Whether a data file's path under its segment root is hidden from
    * a read, by Spark's listing rule for every component: a `.` name
    * (a heartbeat marker, a writer's temp file), or a `_` name
    * that is not a partition directory. Hidden transforms spell their
    * dirs `__p_<name>=value`, and Spark reads them despite the
    * underscore. */
  def hidden(rel: String): Boolean =
    rel.split('/').exists(c => c.startsWith(".") || (c.startsWith("_") && !c.contains("=")))

  /** The columns a manifest writer writes, as typed rows read them. */
  val ReadSchema: org.apache.spark.sql.types.StructType = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, `column` STRING, rows BIGINT, nulls BIGINT, min_num DOUBLE, max_num DOUBLE, " +
      "min_str STRING, max_str STRING, sketch ARRAY<BIGINT>, sketch_bits INT, sketch_hashes INT")

  /** A closed range on one column; an absent endpoint is unbounded.
    * Values are in the manifest's physical unit: strings compare as
    * strings, anything else as a number. */
  type Bound = (String, Option[Any], Option[Any])

  /** An IN-list on one column: per value, its physical value (null: no
    * range test) and its xxhash64 under the files' column type (None:
    * no membership test). */
  type Probe = (String, Seq[(Any, Option[Long])])

  private def toD(a: Any): Double = a match {
    case n: Number => n.doubleValue()
    case other => other.toString.toDouble
  }

  /** UTF-8 byte order, NOT Java String (UTF-16 code-unit) order: the
    * manifest's min_str/max_str are byte-wise parquet binary stats, and
    * the two orders disagree for characters outside the BMP ("￿"
    * sorts after an emoji in UTF-16, before it in UTF-8), so Java order
    * would skip files that hold matching rows. */
  private def cmpStr(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Kirsch–Mitzenmacher membership of hash `h` in one row's Bloom
    * bitmap, sized by the row's own (bits, hashes) — a table
    * re-committed under another sizing stays correct. At most 8
    * positions are tested (the sketchHashes bound); a malformed row
    * keeps the file. */
  def bloomHitMem(words: Array[Long], bits: Long, hashes: Int, h: Long): Boolean = {
    if (bits <= 0 || hashes <= 0 || words.isEmpty) return true
    val h1 = h & 0xffffffffL
    val h2 = (h >>> 32) | 1L
    var i = 0
    val n = math.min(hashes, 8)
    while (i < n) {
      val m = (h1 + i.toLong * h2) % bits
      val p = if (m < 0) m + bits else m
      val wi = (p / 64).toInt
      if (wi >= words.length) return true // malformed sizing: keep
      if (((words(wi) >>> (p % 64).toInt) & 1L) != 1L) return false
      i += 1
    }
    true
  }

  /** Whether one file (`rows`: all its manifest rows) may hold a row
    * inside every bound and matching some value of every probe list.
    * A column the file has no row for, a row without stats, and a row
    * without a sketch all keep the file: missing metadata never skips. */
  def keepFile(rows: Seq[MRow], bounds: Seq[Bound], probes: Seq[Probe]): Boolean = {
    def forCol(c: String) = rows.filter(_.column == c)
    def inRange(r: MRow, lo: Option[Any], hi: Option[Any], isStr: Boolean): Boolean =
      if (isStr) (r.minStr, r.maxStr) match {
        case (Some(mn), Some(mx)) =>
          lo.forall(l => cmpStr(mx, l.toString) >= 0) && hi.forall(h => cmpStr(mn, h.toString) <= 0)
        case _ => true
      } else (r.minNum, r.maxNum) match {
        case (Some(mn), Some(mx)) => lo.forall(l => mx >= toD(l)) && hi.forall(h => mn <= toD(h))
        case _ => true
      }
    bounds.forall { case (c, lo, hi) =>
      val isStr = lo.exists(_.isInstanceOf[String]) || hi.exists(_.isInstanceOf[String])
      val cr = forCol(c)
      cr.isEmpty || cr.exists(inRange(_, lo, hi, isStr))
    } && probes.forall { case (c, values) =>
      val cr = forCol(c)
      cr.isEmpty || values.exists { case (phys, h) =>
        cr.exists { r =>
          val rangeOk = phys match {
            case s: String => inRange(r, Some(s), Some(s), isStr = true)
            case n: Number => inRange(r, Some(n), Some(n), isStr = false)
            case _ => true
          }
          rangeOk && h.forall(hh => r.sketch.forall(bloomHitMem(_, r.sketchBits, r.sketchHashes, hh)))
        }
      }
    }
  }

  /** One segment's kept file names (sorted) and its manifest's file count. */
  def keptFiles(rows: Seq[MRow], bounds: Seq[Bound], probes: Seq[Probe]): (Seq[String], Long) = {
    val byFile = rows.groupBy(_.file)
    (byFile.collect { case (f, rs) if keepFile(rs, bounds, probes) => f }.toSeq.sorted, byFile.size.toLong)
  }

  /** [[keptFiles]] in one Spark job over a segment's manifest rows; at
    * most `lim` + 1 names come back, enough to tell an over-budget list. */
  def keptFilesJob(rows: Dataset[MRow], bounds: Seq[Bound], probes: Seq[Probe],
      lim: Int): (Seq[String], Long) = {
    val verdicts = rows.groupByKey(_.file)(Encoders.STRING)
      .mapGroups((f, rs) => (f, keepFile(rs.toSeq, bounds, probes)))(
        Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean))
    val (kept, total) = verdicts.rdd.aggregate((Vector.empty[String], 0L))(
      { case ((k, n), (f, keep)) => (if (keep && k.length <= lim) k :+ f else k, n + 1) },
      { case ((k1, n1), (k2, n2)) => ((k1 ++ k2).take(lim + 1), n1 + n2) })
    (kept.sorted, total)
  }

  /** One requested column over a set of files: `files` of them have
    * rows for it, `entries` rows in all; the sums of the rows' row and
    * null counts over the `rowsKnown`/`nullsKnown` rows that carry one;
    * the least min and greatest max; and how many rows have no min
    * (max) bound without being provably all-NULL. */
  final case class ColPart(files: Long, entries: Long, rows: Long, rowsKnown: Long,
      nulls: Long, nullsKnown: Long, min: Option[Double], max: Option[Double],
      unboundedMin: Long, unboundedMax: Long)

  /** What a set of manifest files proves: `files` files, `counted` of
    * them with one known row count, together `rows` rows; per
    * requested column (in request order), its [[ColPart]]. Summaries
    * merge associatively ([[merge]]), so per-file summaries fold in any
    * order and on either side of a Spark job. */
  final case class Summary(files: Long, counted: Long, rows: Long, cols: Seq[ColPart])

  def emptySummary(columns: Int): Summary =
    Summary(0L, 0L, 0L, Seq.fill(columns)(ColPart(0L, 0L, 0L, 0L, 0L, 0L, None, None, 0L, 0L)))

  private def opt[T](a: Option[T], b: Option[T])(pick: (T, T) => T): Option[T] =
    (a ++ b).reduceOption(pick)

  def merge(a: Summary, b: Summary): Summary =
    Summary(a.files + b.files, a.counted + b.counted, a.rows + b.rows,
      a.cols.zip(b.cols).map { case (x, y) =>
        ColPart(x.files + y.files, x.entries + y.entries, x.rows + y.rows, x.rowsKnown + y.rowsKnown,
          x.nulls + y.nulls, x.nullsKnown + y.nullsKnown, opt(x.min, y.min)(math.min),
          opt(x.max, y.max)(math.max), x.unboundedMin + y.unboundedMin, x.unboundedMax + y.unboundedMax)
      })

  /** One file's summary from all its manifest rows. Its row count is
    * known when its rows agree on one (a sketch-only row carries none). */
  def fileSummary(rows: Seq[MRow], columns: Seq[String]): Summary = {
    val counts = rows.flatMap(_.rows).distinct
    def allNull(r: MRow) = (for { n <- r.nulls; rw <- r.rows } yield n == rw).getOrElse(false)
    Summary(1L, if (counts.size == 1) 1L else 0L, if (counts.size == 1) counts.head else 0L,
      columns.map { c =>
        val cr = rows.filter(_.column == c)
        ColPart(if (cr.isEmpty) 0L else 1L, cr.size.toLong, cr.flatMap(_.rows).sum,
          cr.count(_.rows.isDefined).toLong, cr.flatMap(_.nulls).sum, cr.count(_.nulls.isDefined).toLong,
          cr.flatMap(_.minNum).minOption, cr.flatMap(_.maxNum).maxOption,
          cr.count(r => r.minNum.isEmpty && !allNull(r)).toLong,
          cr.count(r => r.maxNum.isEmpty && !allNull(r)).toLong)
      })
  }

  /** Whether a (segment-relative) file path lies under every identity-
    * partition token (`col=value` dir names) — such dirs partition the
    * file set exactly, so the subset keeps full coverage semantics. */
  private def underTokens(file: String, partTokens: Seq[String]): Boolean =
    partTokens.isEmpty || { val dirs = file.split('/'); partTokens.forall(dirs.contains) }

  /** The summary of one segment's collected manifest rows. */
  def summaryOf(rows: Seq[MRow], columns: Seq[String], partTokens: Seq[String]): Summary =
    rows.filter(r => underTokens(r.file, partTokens)).groupBy(_.file).values
      .map(fileSummary(_, columns)).foldLeft(emptySummary(columns.size))(merge)

  /** [[summaryOf]] as a lazy Spark plan over one segment's manifest
    * rows: one summary per file; [[total]] merges them. */
  def fileSummaries(rows: Dataset[MRow], columns: Seq[String], partTokens: Seq[String]): Dataset[Summary] =
    rows.filter((r: MRow) => underTokens(r.file, partTokens))
      .groupByKey(_.file)(Encoders.STRING)
      .mapGroups((_, rs) => fileSummary(rs.toSeq, columns))(Encoders.product[Summary])

  /** Per-file summaries merged to one row (partial merges run map-side);
    * no row when there are no files. */
  def total(summaries: Dataset[Summary]): Dataset[Summary] =
    summaries.groupByKey(_ => 0)(Encoders.scalaInt).reduceGroups(merge _)
      .map(_._2)(Encoders.product[Summary])

  /** One output row of `manifestAgg`. */
  final case class AggRow(column: String, n_rows: Option[Long], min_num: Option[Double],
      max_num: Option[Double], n_nulls: Option[Long])

  /** A merged summary as `manifestAgg` rows: one per column with
    * manifest rows. */
  def aggRows(merged: Dataset[Summary], columns: Seq[String]): Dataset[AggRow] =
    merged.flatMap { s =>
      columns.indices.filter(s.cols(_).entries > 0).map { i =>
        val st = colStats(s, i)
        AggRow(columns(i), st.rows, st.min.flatten, st.max.flatten, st.nulls)
      }
    }(Encoders.product[AggRow])

  /** The version's row count, when every file in scope has one. */
  def rowCount(s: Summary): Option[Long] = Option.when(s.counted == s.files)(s.rows)

  /** Column `i`'s provable aggregates: each field only when every file
    * in scope covers it with exactly one row, so an answer is never a
    * bound over a subset. A min/max is covered by a bound or by a
    * provably all-NULL file; `Some(None)` when the column is all-NULL. */
  def colStats(s: Summary, i: Int): ColStats = {
    val c = s.cols(i)
    if (s.files == 0) ColStats(Some(0L), Some(0L), Some(None), Some(None)) // nothing in scope: exact zeros
    else if (c.files != s.files || c.entries != s.files) ColStats(None, None, None, None)
    else {
      val rows = Option.when(c.rowsKnown == c.entries)(c.rows)
      val nulls = Option.when(c.nullsKnown == c.entries)(c.nulls)
      def ext(v: Option[Double], unbounded: Long): Option[Option[Double]] =
        if (unbounded != 0) None
        else if (v.isDefined) Some(v)
        else Option.when(rows.isDefined && rows == nulls)(None)
      ColStats(rows, nulls, ext(c.min, c.unboundedMin), ext(c.max, c.unboundedMax))
    }
  }
}
