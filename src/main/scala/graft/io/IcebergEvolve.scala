package graft.io

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
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
    commit(spark, tableDir) { (tm, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      val hit = (0 until fields.size).map(fields.get)
        .find(_.get("name").asText == from)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$from' in the current schema of $tableDir"))
      require(!(0 until fields.size).map(fields.get).exists(_.get("name").asText == to),
        s"column '$to' already exists in $tableDir")
      hit.asInstanceOf[ObjectNode].put("name", to)
      addMappingName(tm.json, hit.get("id").asInt, currentNames = Seq(to), historical = from)
    }

  /** Add a top-level optional column of the given Iceberg type name
    * (`"string"`, `"long"`, `"double"`, `"date"`, ... — the spec's
    * primitive spellings). The new field takes `last-column-id + 1`;
    * files that predate it read as typed NULLs. */
  def addColumn(spark: SparkSession, tableDir: String, name: String, icebergType: String): Unit =
    commit(spark, tableDir) { (tm, schema) =>
      val md = tm.json
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
    commit(spark, tableDir) { (tm, schema) =>
      val fields = schema.get("fields").asInstanceOf[ArrayNode]
      val idx = (0 until fields.size)
        .find(i => fields.get(i).get("name").asText == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$name' in the current schema of $tableDir"))
      require(fields.size > 1, s"cannot drop the only column of $tableDir")
      val fid = fields.get(idx).get("id").asInt
      require(!tm.specs.values.exists(_.fields.exists(_.sourceId == fid)),
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
    createRef(spark, tableDir, name, snapshotId, "tag")

  /** Create a writable BRANCH ref forked at a snapshot (the current
    * one when `snapshotId` is empty) — Iceberg's write-audit-publish
    * on foreign tables: [[IcebergAppend.append]] and [[IcebergDml]]
    * take a `branch` argument to commit onto it (advancing only the
    * branch ref; `main` and `current-snapshot-id` stay put), reads
    * audit it via [[IcebergImport.readRef]], and [[fastForward]]
    * publishes it. */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    createRef(spark, tableDir, name, snapshotId, "branch")

  private def createRef(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Option[Long], kind: String): Unit =
    commitRaw(spark, tableDir) { tm =>
      require(!tm.refs.contains(name), s"ref '$name' already exists on $tableDir")
      val target = snapshotId.getOrElse(tm.head)
      val ids = tm.snapshots.map(_.id)
      require(ids.contains(target),
        s"snapshot $target not in $tableDir — have ${ids.sorted.mkString(", ")}")
      val r = refsNode(tm).putObject(name)
      r.put("snapshot-id", target); r.put("type", kind)
    }

  /** Fast-forward `main` to a branch's head — the PUBLISH step of
    * write-audit-publish. Refused unless the current main head is an
    * ancestor of the branch head (a true fast-forward; anything else
    * would silently drop main-side commits). The branch ref survives
    * (drop it separately once done). */
  def fastForward(spark: SparkSession, tableDir: String, branch: String): Unit =
    commitRaw(spark, tableDir) { tm =>
      val r = tm.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no ref '$branch' on $tableDir"))
      require(r.kind == "branch",
        s"ref '$branch' on $tableDir is a ${r.kind} — cannot fast-forward to a tag")
      val target = r.snapshotId
      require(tm.current.exists(main => tm.ancestors(target).exists(_.id == main)),
        s"main (${tm.current.getOrElse("none")}) is not an ancestor of branch '$branch' " +
          s"($target) on $tableDir — not a fast-forward; rebase the branch or cherry-pick instead")
      val md = tm.json
      val refs = refsNode(tm)
      val mainRef =
        if (refs.hasNonNull("main")) refs.get("main").asInstanceOf[ObjectNode]
        else refs.putObject("main")
      mainRef.put("snapshot-id", target)
      if (!mainRef.has("type")) mainRef.put("type", "branch")
      md.put("current-snapshot-id", target)
      md.put("last-updated-ms", System.currentTimeMillis())
      val sl = md.withArray[ArrayNode]("snapshot-log").addObject()
      sl.put("timestamp-ms", System.currentTimeMillis()); sl.put("snapshot-id", target)
    }

  /** Drop a named ref; `main` refuses (it is the table head). */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit =
    commitRaw(spark, tableDir) { tm =>
      require(name != "main", s"cannot drop the main branch of $tableDir")
      require(tm.refs.contains(name), s"no ref '$name' on $tableDir")
      refsNode(tm).remove(name)
    }

  /** The metadata JSON's `refs` object, created when absent. */
  private def refsNode(tm: IcebergMetadata.TableMetadata): ObjectNode =
    if (tm.json.hasNonNull("refs")) tm.json.get("refs").asInstanceOf[ObjectNode]
    else tm.json.putObject("refs")

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

  /** Load the latest metadata, hand (the table, a MUTABLE copy of the
    * current schema appended as a new schema-id) to `edit`, then
    * commit v<hint+1>.metadata.json + hint. */
  private def commit(spark: SparkSession, tableDir: String)
      (edit: (IcebergMetadata.TableMetadata, ObjectNode) => Unit): Unit =
    commitRaw(spark, tableDir) { tm =>
      val md = tm.json
      // the current schema node, per the v2 (schemas + current-schema-id)
      // and v1 (single schema) shapes
      val cur = tm.schemaNode.asInstanceOf[ObjectNode]
      Option(md.get("schemas")).filter(_.size > 0) match {
        case Some(schemas) =>
          val arr = schemas.asInstanceOf[ArrayNode]
          // spec evolution: append a NEW schema under a fresh id
          val newId = (0 until arr.size).map(arr.get(_).get("schema-id").asInt).max + 1
          val evolved = cur.deepCopy().asInstanceOf[ObjectNode]
          evolved.put("schema-id", newId)
          edit(tm, evolved)
          arr.add(evolved)
          md.put("current-schema-id", newId)
          // migration-era metadata may carry the legacy single "schema"
          // alongside "schemas" — a stale copy would mislead readers
          // that prefer it, so it evolves in lockstep
          if (md.has("schema")) md.set("schema", evolved.deepCopy())
        case None =>
          // v1 single-schema metadata evolves in place
          edit(tm, cur)
      }
    }

  /** One metadata-only commit with NO schema machinery (ref edits):
    * load latest, `edit` its JSON, commit v<hint+1> + hint through
    * [[IcebergMetadata.commit]] — a schema/ref commit racing an append
    * conflicts loudly instead of overwriting it. */
  private def commitRaw(spark: SparkSession, tableDir: String)
      (edit: IcebergMetadata.TableMetadata => Unit): Unit = {
    val tm = IcebergImport.meta(spark, tableDir)
    edit(tm)
    IcebergMetadata.commit(tm.fs, tm.path, tm.json)
  }
}
