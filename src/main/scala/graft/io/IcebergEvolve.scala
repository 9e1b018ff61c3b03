package graft.io

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** METADATA-ONLY schema evolution on a FOREIGN Iceberg table — the
  * jar-free twin of `ALTER TABLE ... RENAME COLUMN / ADD COLUMN` over
  * a table graft did not write (the reference's tables are
  * `USING ICEBERG`, `/root/reference/spark/jobs/job_silver.py:66-88`,
  * where these are routine one-statement DDL).
  *
  * Both operations follow the public spec's evolution rules: a NEW
  * schema (fresh `schema-id`) is appended to `schemas` and
  * `current-schema-id` re-pointed — no data file is touched, no
  * existing metadata version rewritten; the commit is one new
  * `v<N+1>.metadata.json` plus the version hint. Reads resolve the
  * evolved schema per the spec's column-projection rules, which
  * [[IcebergImport]] implements:
  *   - data files whose parquet footers carry FIELD IDS resolve the
  *     renamed/added columns by id;
  *   - id-less files (Hive-migrated, graft's own exports) resolve
  *     through `schema.name-mapping.default`, which [[renameColumn]]
  *     maintains — the old spelling is recorded as a historical name
  *     for the field id, so every pre-rename file keeps reading;
  *   - files that predate an added column yield typed NULLs.
  */
object IcebergEvolve {

  /** Rename top-level column `from` to `to`; the field keeps its id.
    * Old data files keep resolving: id-carrying ones by field id,
    * id-less ones through the name-mapping entry this commit appends. */
  def renameColumn(spark: SparkSession, tableDir: String, from: String, to: String): Unit =
    commit(spark, tableDir) { (md, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      val hit = (0 until fields.size).map(fields.get)
        .find(_.get("name").asText == from)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$from' in the current schema of $tableDir"))
      require(!(0 until fields.size).map(fields.get).exists(_.get("name").asText == to),
        s"column '$to' already exists in $tableDir")
      hit.asInstanceOf[ObjectNode].put("name", to)
      addMappingName(md, hit.get("id").asInt, currentNames = Seq(to), historical = from)
    }

  /** Add a top-level optional column of the given Iceberg type name
    * (`"string"`, `"long"`, `"double"`, `"date"`, ... — the spec's
    * primitive spellings). The new field takes `last-column-id + 1`;
    * files that predate it read as typed NULLs. */
  def addColumn(spark: SparkSession, tableDir: String, name: String, icebergType: String): Unit =
    commit(spark, tableDir) { (md, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      require(!(0 until fields.size).map(fields.get).exists(_.get("name").asText == name),
        s"column '$name' already exists in $tableDir")
      val nextId = (if (md.hasNonNull("last-column-id")) md.get("last-column-id").asInt
                    else (0 until fields.size).map(fields.get(_).get("id").asInt).max) + 1
      val f = fields.addObject()
      f.put("id", nextId); f.put("name", name); f.put("required", false)
      f.put("type", icebergType)
      md.put("last-column-id", nextId)
    }

  /** Drop top-level column `name` from the current schema —
    * metadata-only; the field id is never reused (`last-column-id`
    * stays), so the column's data remains in old files and old
    * snapshots, invisible to new reads per the projection rules.
    * Refused when any partition spec sources the field (layout
    * identity must stay resolvable). */
  def dropColumn(spark: SparkSession, tableDir: String, name: String): Unit =
    commit(spark, tableDir) { (md, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      val idx = (0 until fields.size)
        .find(i => fields.get(i).get("name").asText == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$name' in the current schema of $tableDir"))
      require(fields.size > 1, s"cannot drop the only column of $tableDir")
      val fid = fields.get(idx).get("id").asInt
      def specNodes: Seq[com.fasterxml.jackson.databind.JsonNode] = {
        val v2 = md.get("partition-specs")
        if (v2 != null && v2.size > 0)
          (0 until v2.size).flatMap { i =>
            val fs = v2.get(i).get("fields")
            if (fs == null) Nil else (0 until fs.size).map(fs.get)
          }
        else {
          val v1 = md.get("partition-spec")
          if (v1 == null) Nil else (0 until v1.size).map(v1.get)
        }
      }
      require(!specNodes.exists(f => f.hasNonNull("source-id") && f.get("source-id").asInt == fid),
        s"column '$name' (field id $fid) is a partition source in $tableDir — cannot drop")
      fields.remove(idx)
    }

  /** Promote top-level column `name` to a WIDER Iceberg type — only
    * the spec's legal promotions (`int`→`long`, `float`→`double`,
    * `decimal(P,S)`→`decimal(P2,S)` with P2 > P); anything else
    * refuses. Old files keep their narrower physical type and read
    * widened (parquet readers upcast; id-less files cast through the
    * table schema). */
  def promoteColumn(spark: SparkSession, tableDir: String, name: String,
      icebergType: String): Unit =
    commit(spark, tableDir) { (_, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      val hit = (0 until fields.size).map(fields.get)
        .find(_.get("name").asText == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$name' in the current schema of $tableDir"))
      val from = hit.get("type").asText
      val DecT = "decimal\\((\\d+),\\s*(\\d+)\\)".r
      val legal = (from, icebergType) match {
        case ("int", "long") | ("float", "double") => true
        case (DecT(p1, s1), DecT(p2, s2)) => s1 == s2 && p2.toInt > p1.toInt
        case _ => false
      }
      require(legal, s"promotion $from -> $icebergType on '$name' is not a legal " +
        "Iceberg type promotion (int->long, float->double, decimal precision widening)")
      hit.asInstanceOf[ObjectNode].put("type", icebergType)
    }

  /** Create an immutable TAG ref on a snapshot (the current one when
    * `snapshotId` is empty) — a metadata-only commit; reads resolve it
    * via [[IcebergImport.readRef]], and [[IcebergMaintenance
    * .expireSnapshots]] RETAINS every ref-pointed snapshot. */
  def createTag(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    commitRaw(spark, tableDir) { (md, _) =>
      val refs =
        if (md.hasNonNull("refs")) md.get("refs").asInstanceOf[ObjectNode]
        else md.putObject("refs")
      require(!refs.hasNonNull(name), s"ref '$name' already exists on $tableDir")
      val snaps = md.get("snapshots")
      val ids = (0 until snaps.size).map(snaps.get(_).get("snapshot-id").asLong).toSet
      val target = snapshotId.getOrElse(md.get("current-snapshot-id").asLong)
      require(ids.contains(target),
        s"snapshot $target not in $tableDir — have ${ids.toSeq.sorted.mkString(", ")}")
      val r = refs.putObject(name)
      r.put("snapshot-id", target); r.put("type", "tag")
    }

  /** Create a writable BRANCH ref forked at a snapshot (the current
    * one when `snapshotId` is empty) — Iceberg's write-audit-publish
    * on foreign tables: [[IcebergAppend.append]] and [[IcebergDml]]
    * take a `branch` argument to commit onto it (advancing only the
    * branch ref; `main` and `current-snapshot-id` stay put), reads
    * audit it via [[IcebergImport.readRef]], and [[fastForward]]
    * publishes it. */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    commitRaw(spark, tableDir) { (md, _) =>
      val refs =
        if (md.hasNonNull("refs")) md.get("refs").asInstanceOf[ObjectNode]
        else md.putObject("refs")
      require(!refs.hasNonNull(name), s"ref '$name' already exists on $tableDir")
      val snaps = md.get("snapshots")
      val ids = (0 until snaps.size).map(snaps.get(_).get("snapshot-id").asLong).toSet
      val target = snapshotId.getOrElse(md.get("current-snapshot-id").asLong)
      require(ids.contains(target),
        s"snapshot $target not in $tableDir — have ${ids.toSeq.sorted.mkString(", ")}")
      val r = refs.putObject(name)
      r.put("snapshot-id", target); r.put("type", "branch")
    }

  /** Fast-forward `main` to a branch's head — the PUBLISH step of
    * write-audit-publish. Refused unless the current main head is an
    * ancestor of the branch head (a true fast-forward; anything else
    * would silently drop main-side commits). The branch ref survives
    * (drop it separately once done). */
  def fastForward(spark: SparkSession, tableDir: String, branch: String): Unit =
    commitRaw(spark, tableDir) { (md, _) =>
      val refs = if (md.hasNonNull("refs")) md.get("refs").asInstanceOf[ObjectNode] else null
      require(refs != null && refs.hasNonNull(branch), s"no ref '$branch' on $tableDir")
      val r = refs.get(branch)
      val tpe = if (r.hasNonNull("type")) r.get("type").asText else "branch"
      require(tpe == "branch", s"ref '$branch' on $tableDir is a $tpe — cannot fast-forward to a tag")
      val target = r.get("snapshot-id").asLong
      val mainHead = md.get("current-snapshot-id").asLong
      // ancestry walk: parent chain from the branch head must reach main
      val snaps = md.get("snapshots")
      val parentOf: Map[Long, Option[Long]] = (0 until snaps.size).map(snaps.get).map { s =>
        s.get("snapshot-id").asLong ->
          (if (s.hasNonNull("parent-snapshot-id")) Some(s.get("parent-snapshot-id").asLong) else None)
      }.toMap
      var cursor: Option[Long] = Some(target)
      var isAncestor = false
      while (cursor.isDefined && !isAncestor) {
        if (cursor.get == mainHead) isAncestor = true
        else cursor = parentOf.getOrElse(cursor.get, None)
      }
      require(isAncestor,
        s"main ($mainHead) is not an ancestor of branch '$branch' ($target) on $tableDir — " +
          "not a fast-forward; rebase the branch or cherry-pick instead")
      val mainRef =
        if (refs.hasNonNull("main")) refs.get("main").asInstanceOf[ObjectNode]
        else refs.putObject("main")
      mainRef.put("snapshot-id", target)
      if (!mainRef.has("type")) mainRef.put("type", "branch")
      md.put("current-snapshot-id", target)
      md.put("last-updated-ms", System.currentTimeMillis())
      val slog = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
      val sl = slog.addObject()
      sl.put("timestamp-ms", System.currentTimeMillis()); sl.put("snapshot-id", target)
    }

  /** Drop a named ref; `main` refuses (it is the table head). */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit =
    commitRaw(spark, tableDir) { (md, _) =>
      require(name != "main", s"cannot drop the main branch of $tableDir")
      val refs = if (md.hasNonNull("refs")) md.get("refs").asInstanceOf[ObjectNode] else null
      require(refs != null && refs.hasNonNull(name), s"no ref '$name' on $tableDir")
      refs.remove(name)
    }

  /** Merge `historical` into the field's `schema.name-mapping.default`
    * entry, creating the property/entry when absent. Unrenamed fields
    * need no entry — id-less files carry them under their current
    * names, which resolve directly. */
  private def addMappingName(md: ObjectNode, fieldId: Int,
      currentNames: Seq[String], historical: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val props =
      if (md.hasNonNull("properties")) md.get("properties").asInstanceOf[ObjectNode]
      else md.putObject("properties")
    val arr: ArrayNode =
      if (props.hasNonNull("schema.name-mapping.default"))
        om.readTree(props.get("schema.name-mapping.default").asText).asInstanceOf[ArrayNode]
      else om.createArrayNode()
    val entry = (0 until arr.size).map(arr.get)
      .find(e => e.hasNonNull("field-id") && e.get("field-id").asInt == fieldId)
      .map(_.asInstanceOf[ObjectNode])
      .getOrElse { val e = arr.addObject(); e.put("field-id", fieldId); e }
    val names =
      if (entry.hasNonNull("names")) entry.get("names").asInstanceOf[ArrayNode]
      else entry.putArray("names")
    val have = (0 until names.size).map(names.get(_).asText).toSet
    (historical +: currentNames.filterNot(_ == historical)).foreach { n =>
      if (!have.contains(n)) names.add(n)
    }
    props.put("schema.name-mapping.default", om.writeValueAsString(arr))
  }

  /** Load the latest metadata, hand (metadata root, a MUTABLE copy of
    * the current schema appended as a new schema-id) to `edit`, then
    * commit v<hint+1>.metadata.json + hint. */
  private def commit(spark: SparkSession, tableDir: String)
      (edit: (ObjectNode, ObjectNode) => Unit): Unit =
    commitRaw(spark, tableDir) { (md, mdPath) =>
      // the current schema node, per the v2 (schemas + current-schema-id)
      // and v1 (single schema) shapes
      val cur = IcebergMetadata.currentSchema(md, mdPath).asInstanceOf[ObjectNode]
      Option(md.get("schemas")).filter(_.size > 0) match {
        case Some(schemas) =>
          val arr = schemas.asInstanceOf[ArrayNode]
          // spec evolution: append a NEW schema under a fresh id
          val newId = (0 until arr.size).map(arr.get(_).get("schema-id").asInt).max + 1
          val evolved = cur.deepCopy().asInstanceOf[ObjectNode]
          evolved.put("schema-id", newId)
          edit(md, evolved)
          arr.add(evolved)
          md.put("current-schema-id", newId)
          // migration-era metadata may carry the legacy single "schema"
          // alongside "schemas" — a stale copy would mislead readers
          // that prefer it, so it evolves in lockstep
          if (md.has("schema")) md.set("schema", evolved.deepCopy())
        case None =>
          // v1 single-schema metadata evolves in place
          edit(md, cur)
      }
    }

  /** One metadata-only commit with NO schema machinery (ref edits):
    * load latest, `edit` the root (given its file), commit v<hint+1> +
    * hint through [[IcebergMetadata.commit]] — a schema/ref commit
    * racing an append conflicts loudly instead of overwriting it. */
  private def commitRaw(spark: SparkSession, tableDir: String)
      (edit: (ObjectNode, Path) => Unit): Unit = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (mdPath, md) = IcebergMetadata.loadHead(fs, tableDir)
    edit(md, mdPath)
    IcebergMetadata.commit(fs, mdPath, md)
  }
}
