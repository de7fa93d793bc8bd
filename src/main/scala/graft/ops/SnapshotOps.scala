package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus diff — the incremental-curation
  * primitive. Real pipelines re-crawl and re-curate continuously;
  * between two corpus snapshots the operative question is WHAT CHANGED
  * (a re-run over the unchanged 95% is the waste a 100 TB pipeline
  * cannot afford): new documents enter the funnel, removed documents
  * retire their derived artifacts, changed documents re-curate, and
  * unchanged documents keep every cached stage.
  *
  * Scale shape: one full-outer equi-join keyed by the document id over
  * (id, fingerprint) projections — a single shuffle of two id+hash
  * columns, never the texts; with both snapshots stored bucketed by id
  * (the `j_bucketed_join` posture) even that shuffle disappears. Status
  * is a pure projection over presence + fingerprint equality.
  */
object SnapshotOps {

  /** Per-id diff status between two snapshots, by content fingerprint:
    * `added` (current only), `removed` (previous only), `changed`
    * (present in both, fingerprints differ), `unchanged`. Fingerprints
    * surface coalesced to '' so the row shape is null-free.
    */
  def diff(prev: DataFrame, cur: DataFrame, idCol: String,
           fpCol: String): DataFrame = {
    val p = prev.select(col(idCol), col(fpCol).as("__fp_prev"))
    val c = cur.select(col(idCol), col(fpCol).as("__fp_cur"))
    p.join(c, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__fp_prev").isNull, "added")
          .when(col("__fp_cur").isNull, "removed")
          .when(col("__fp_prev") =!= col("__fp_cur"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("__fp_prev"), lit("")).as("fp_prev"),
        coalesce(col("__fp_cur"), lit("")).as("fp_cur"))
  }

  /** CDC changelog COMPACTION — the lakehouse `MERGE INTO` shape: fold
    * a changelog of (id, seq, op ∈ upsert|delete, payload…) onto a
    * base snapshot. Latest entry per id wins (lexicographic max over
    * (seq, op, payload), so even a seq tie resolves deterministically
    * on any engine); `delete` tombstones the id; untouched base rows
    * pass through.
    *
    * Scale shape: one hash aggregation over the CHANGELOG (usually ≪
    * base) + one anti-join keyed by id + a union — the base never
    * sorts, never windows; with base and log bucketed by id the
    * anti-join co-locates too.
    *
    * `log` must carry every base column plus seqCol + opCol. Returns
    * the compacted snapshot in base schema.
    */
  def applyChangelog(base: DataFrame, log: DataFrame, idCol: String,
                     seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol).toSeq
    val packed = log.groupBy(col(idCol)).agg(
      max(struct((seqCol +: opCol +: payload).map(col): _*)).as("__last"))
    val latest = packed.select(
      col(idCol) +: col(s"__last.$opCol").as("__op") +:
        payload.map(c => col(s"__last.$c").as(c)): _*)
    val untouched = base.join(packed.select(col(idCol)), Seq(idCol), "left_anti")
    // refuse loudly on an op outside the domain — an unknown op must not
    // silently tombstone the id like 'delete' would
    val checkedOp = when(col("__op").isin("upsert", "delete"), col("__op"))
      .otherwise(raise_error(concat(
        lit("applyChangelog: unknown op '"), col("__op"), lit("'"))))
    val upserts = latest.filter(checkedOp === "upsert").drop("__op")
    untouched.unionByName(upserts.select(base.columns.toSeq.map(col): _*))
  }

  /** SCD TYPE-2 history fold — the history-preserving sibling of
    * [[applyChangelog]]: instead of compacting to the latest state,
    * every version an id ever had becomes one row with its validity
    * interval, the audit/reproducibility layout (query "the corpus as
    * of seq 1" = `valid_from <= 1 AND (valid_to IS NULL OR
    * valid_to > 1)`).
    *
    * Semantics: base rows open at seq 0; each `upsert` in the log
    * opens a new interval at its seq (closing the id's previous one);
    * `delete` closes the current interval and opens nothing (a later
    * upsert re-inserts). Tombstones themselves emit no row — history
    * is the set of states that EXISTED.
    *
    * Scale shape: one union + one window keyed by id ordered by
    * (seq, op) — no global sort, no self-join; ties and unknown ops
    * refuse loudly (same posture as [[applyChangelog]]).
    *
    * @return base payload columns plus `valid_from` (BIGINT),
    *         `valid_to` (BIGINT, null while current), `is_current`
    */
  def scd2History(base: DataFrame, log: DataFrame, idCol: String,
                  seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol).toSeq
    val checkedSeq = when(col(seqCol) > 0, col(seqCol).cast("long"))
      .otherwise(raise_error(lit("scd2History: log seq must be > 0 " +
        "(seq 0 is the base snapshot)")))
    val events = base
      .select(col(idCol) +: lit(0L).as("__seq") +: lit("upsert").as("__op") +:
        payload.map(col): _*)
      .unionByName(log.select(
        col(idCol) +: checkedSeq.as("__seq") +:
          when(col(opCol).isin("upsert", "delete"), col(opCol))
            .otherwise(raise_error(concat(
              lit("scd2History: unknown op '"), col(opCol), lit("'"))))
            .as("__op") +: payload.map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__seq"), col("__op"))
    // two log entries for the same id at the same seq would order
    // nondeterministically under the window — refuse loudly, matching
    // the doc'd applyChangelog posture (same partition key as the
    // lead window, so no extra shuffle)
    val dupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__seq"))
    events
      .withColumn("__seq",
        when(count(lit(1)).over(dupW) > 1, raise_error(concat(
          lit("scd2History: duplicate log entries for id '"),
          col(idCol).cast("string"), lit("' at seq "),
          col("__seq").cast("string")))).otherwise(col("__seq")))
      .withColumn("valid_to", lead(col("__seq"), 1).over(w))
      .where(col("__op") === "upsert")
      .select(col(idCol) +: payload.map(col) :+
        col("__seq").as("valid_from") :+ col("valid_to") :+
        col("valid_to").isNull.as("is_current"): _*)
  }

  // ---------------------------------------------------------------
  // Manifest-file SNAPSHOT ISOLATION — the lakehouse time-travel read
  // (Iceberg/Delta shape, minimal): a version IS its complete
  // data-unit list, written as one immutable manifest file
  // `<table>/manifests/v<N>.json`. Readers resolve `table@v` by
  // loading exactly the manifest's units — never by listing the data
  // directory — so concurrent appends/removals are invisible until
  // their manifest commits, and an old version stays byte-stable
  // (the reproducible-training-set contract that closes the
  // snapshot-diff loop: re-reading v1 after v2 committed returns the
  // identical corpus).
  //
  // Scale shape: the manifest is one small JSON (bounded by unit
  // count, not rows); the read is a plain parquet scan over the
  // listed paths — partition pruning, pushdown, and bucketing all
  // still apply underneath.
  // ---------------------------------------------------------------

  /** Write (commit) the COMPLETE unit list of snapshot `version`.
    * Paths are table-relative. The manifest file is immutable once
    * written (re-commit of the same version only succeeds with the
    * identical list — snapshot isolation means a version never
    * changes meaning).
    */
  def commitManifest(tableDir: String, version: Int,
                     units: Seq[String]): Unit = {
    require(version > 0, "versions start at 1")
    // the flat quote-wrapped encoding below can't represent these —
    // reject at commit time rather than corrupt the read-side parse
    units.foreach { u =>
      require(!u.exists(c => c == '"' || c == ',' || c == '\\' ||
        c == '\n' || c == '\r'),
        s"""unit path contains '"', ',', '\\' or a newline: $u""")
    }
    val dir = new java.io.File(tableDir, "manifests")
    dir.mkdirs()
    val f = new java.io.File(dir, s"v$version.json")
    val json = units.map(u => "\"" + u + "\"").mkString("[", ",", "]")
    if (f.exists()) {
      val prior = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      require(prior == json,
        s"manifest v$version exists with a different unit list")
    } else {
      val tmp = new java.io.File(dir, s".v$version.json.tmp")
      java.nio.file.Files.write(tmp.toPath, json.getBytes("UTF-8"))
      if (!tmp.renameTo(f)) {
        // lost the commit race: the version is immutable, so the
        // concurrent winner must have written the IDENTICAL list —
        // re-read and compare rather than silently accepting it
        tmp.delete()
        require(f.exists(), s"commit of v$version failed")
        val winner = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        require(winner == json,
          s"manifest v$version committed concurrently with a " +
            "different unit list")
      }
    }
  }

  /** Unit list of snapshot `version` (table-relative paths). */
  def manifestUnits(tableDir: String, version: Int): Seq[String] = {
    val f = new java.io.File(new java.io.File(tableDir, "manifests"),
      s"v$version.json")
    require(f.exists(), s"no snapshot v$version at $tableDir")
    val json = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    require(json.startsWith("[") && json.endsWith("]"), "bad manifest")
    json.substring(1, json.length - 1).split(",").toSeq
      .filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Time-travel read: `table@version` — exactly the manifest's units,
    * never a directory listing.
    */
  def readVersion(spark: org.apache.spark.sql.SparkSession,
                  tableDir: String, version: Int): DataFrame = {
    val paths = manifestUnits(tableDir, version)
      .map(u => new java.io.File(tableDir, u).getAbsolutePath)
    spark.read.parquet(paths: _*)
  }

  // ---------------------------------------------------------------
  // DELTA-PROTOCOL COMMIT LOG — the public `_delta_log/` action
  // format (delta.io PROTOCOL.md: one JSON action per line in
  // `<v padded to 20>.json`; `add`/`remove` carry table-relative
  // paths, `protocol` gates readers, checkpoints collapse the prefix
  // into `<v>.checkpoint.parquet` + `_last_checkpoint`). Pure JSON +
  // parquet — no library beyond Jackson, which Spark itself ships.
  // A version's file set = the log fold: adds minus later removes,
  // last action per path wins. This is the interop seam: a table
  // written here is readable by any Delta reader at protocol v1, and
  // [[deltaFiles]] reads logs the engine didn't write.
  // ---------------------------------------------------------------

  private def jsonMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  private def deltaLogFile(tableDir: String, version: Long): java.io.File =
    new java.io.File(new java.io.File(tableDir, "_delta_log"),
      f"$version%020d.json")

  /** Commit `version`: adds + removes of table-relative paths, one
    * action per line. Version 0 also writes the `protocol` (reader/
    * writer v1) and a minimal `metaData` action. Immutable: a
    * re-commit must carry the identical content (same posture as
    * [[commitManifest]], including the lost-rename-race re-read).
    */
  def deltaCommit(tableDir: String, version: Long, adds: Seq[String],
                  removes: Seq[String] = Nil): Unit = {
    require(version >= 0, "delta versions start at 0")
    val m = jsonMapper
    val lines = new scala.collection.mutable.ArrayBuffer[String]
    if (version == 0L) {
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":1}}"""
      val meta = m.createObjectNode()
      val md = meta.putObject("metaData")
      md.put("id", java.util.UUID.nameUUIDFromBytes(
        tableDir.getBytes("UTF-8")).toString)
      md.putObject("format").put("provider", "parquet")
      md.put("schemaString", "{}")
      md.putArray("partitionColumns")
      lines += m.writeValueAsString(meta)
    }
    removes.foreach { p =>
      val n = m.createObjectNode()
      val r = n.putObject("remove")
      r.put("path", p); r.put("deletionTimestamp", 0L)
      r.put("dataChange", true)
      lines += m.writeValueAsString(n)
    }
    adds.foreach { p =>
      val n = m.createObjectNode()
      val a = n.putObject("add")
      a.put("path", p)
      a.putObject("partitionValues")
      a.put("size", 0L); a.put("modificationTime", 0L)
      a.put("dataChange", true)
      lines += m.writeValueAsString(n)
    }
    val json = lines.mkString("", "\n", "\n")
    val f = deltaLogFile(tableDir, version)
    f.getParentFile.mkdirs()
    if (f.exists()) {
      val prior = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      require(prior == json,
        s"delta commit $version exists with different actions")
    } else {
      val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
      java.nio.file.Files.write(tmp.toPath, json.getBytes("UTF-8"))
      if (!tmp.renameTo(f)) {
        tmp.delete()
        require(f.exists(), s"delta commit $version failed")
        val winner = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        require(winner == json,
          s"delta commit $version raced with different actions")
      }
    }
  }

  // Checkpoint action schemas (DDL): the spec-required fields of each
  // action type. Optional add.stats/tags are droppable per the protocol
  // (checkpoints MAY omit them); protocol reader/writerFeatures only
  // exist at versions ≥3, which this v1 reader refuses anyway.
  private val cpAddDdl =
    "struct<path:string,partitionValues:map<string,string>," +
      "size:bigint,modificationTime:bigint,dataChange:boolean>"
  private val cpMetaDdl =
    "struct<id:string,name:string,description:string," +
      "format:struct<provider:string,options:map<string,string>>," +
      "schemaString:string,partitionColumns:array<string>," +
      "configuration:map<string,string>,createdTime:bigint>"
  private val cpProtoDdl =
    "struct<minReaderVersion:int,minWriterVersion:int>"

  /** Folded log state at a version: live add actions (full JSON, commit
    * order), plus the protocol and metaData actions — either replayed
    * from the JSON prefix or recovered from a checkpoint (where the
    * spec says they live once the prefix is collapsed).
    */
  private final case class DeltaState(
      adds: scala.collection.mutable.LinkedHashMap[String, String],
      var protocolJson: String, var metaDataJson: String)

  private def foldDelta(spark: org.apache.spark.sql.SparkSession,
                        tableDir: String, version: Long): DeltaState = {
    val logDir = new java.io.File(tableDir, "_delta_log")
    require(logDir.isDirectory, s"no _delta_log at $tableDir")
    val cpVersions = Option(logDir.list()).getOrElse(Array.empty)
      .filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet").toLong)
      .filter(_ <= version)
    val st = DeltaState(scala.collection.mutable.LinkedHashMap.empty,
      null, null)
    val m = jsonMapper
    val start: Long = if (cpVersions.isEmpty) 0L else {
      val cpv = cpVersions.max
      val cp = new java.io.File(logDir, f"$cpv%020d.checkpoint.parquet")
      val df = spark.read.parquet(cp.getAbsolutePath)
      // Once the JSON prefix [0, cpv] is collapsed, the protocol action
      // lives IN the checkpoint — resolving state from a checkpoint
      // without re-checking it would silently misread tables that gate
      // reader ≥2 (deletion vectors, column mapping). A checkpoint with
      // no protocol column is non-conformant: refuse, don't guess.
      require(df.columns.contains("protocol"),
        s"delta checkpoint $cpv has no protocol column (non-conformant)")
      val protos = df.where(col("protocol.minReaderVersion").isNotNull)
        .selectExpr("to_json(protocol) AS p").collect().map(_.getString(0))
      require(protos.length == 1,
        s"delta checkpoint $cpv has ${protos.length} protocol rows (want 1)")
      st.protocolJson = protos.head
      val mr = m.readTree(st.protocolJson).get("minReaderVersion").asInt()
      require(mr <= 1,
        s"delta reader version $mr unsupported (reader is v1)")
      if (df.columns.contains("metaData")) {
        val metas = df.where(col("metaData.id").isNotNull)
          .selectExpr("to_json(metaData) AS m").collect().map(_.getString(0))
        if (metas.nonEmpty) st.metaDataJson = metas.head
      }
      if (df.columns.contains("add"))
        df.where(col("add.path").isNotNull)
          .selectExpr("add.path AS p", "to_json(add) AS a")
          .collect().foreach(r => st.adds.put(r.getString(0), r.getString(1)))
      cpv + 1
    }
    var v = start
    while (v <= version) {
      val f = deltaLogFile(tableDir, v)
      require(f.exists(), s"delta version $v missing from the log")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).foreach { line =>
        val node = m.readTree(line)
        if (node.has("add")) {
          val a = node.get("add")
          st.adds.put(a.get("path").asText(), m.writeValueAsString(a))
        } else if (node.has("remove"))
          st.adds.remove(node.get("remove").get("path").asText())
        else if (node.has("protocol")) {
          val mr = node.get("protocol").get("minReaderVersion").asInt()
          require(mr <= 1,
            s"delta reader version $mr unsupported (reader is v1)")
          st.protocolJson = m.writeValueAsString(node.get("protocol"))
        } else if (node.has("metaData"))
          st.metaDataJson = m.writeValueAsString(node.get("metaData"))
        else if (!node.has("commitInfo") && !node.has("txn"))
          throw new IllegalArgumentException(
            s"unknown delta action: ${line.take(80)}")
      } finally src.close()
      v += 1
    }
    st
  }

  /** Collapse the log prefix [0, version] into a spec-conformant
    * single-file `<version>.checkpoint.parquet`: one `protocol` row,
    * one `metaData` row, and one full-schema `add` row per live file
    * (path, partitionValues, size, modificationTime, dataChange), so
    * any Delta v1 reader can resolve the snapshot from the checkpoint
    * alone. Points `_last_checkpoint` at it.
    */
  def deltaCheckpoint(spark: org.apache.spark.sql.SparkSession,
                      tableDir: String, version: Long): Unit = {
    val st = foldDelta(spark, tableDir, version)
    require(st.protocolJson != null,
      s"delta log [0,$version] carries no protocol action")
    require(st.metaDataJson != null,
      s"delta log [0,$version] carries no metaData action")
    import spark.implicits._
    val cp = new java.io.File(new java.io.File(tableDir, "_delta_log"),
      f"$version%020d.checkpoint.parquet")
    val rows = Seq(("p", st.protocolJson), ("m", st.metaDataJson)) ++
      st.adds.valuesIterator.map(("a", _))
    rows.toDF("kind", "js").select(
      when(col("kind") === "p", from_json(col("js"), cpProtoDdl,
        Map.empty[String, String])).as("protocol"),
      when(col("kind") === "m", from_json(col("js"), cpMetaDdl,
        Map.empty[String, String])).as("metaData"),
      when(col("kind") === "a", from_json(col("js"), cpAddDdl,
        Map.empty[String, String])).as("add"))
      .coalesce(1).write.mode("overwrite").parquet(cp.getAbsolutePath)
    val last = new java.io.File(new java.io.File(tableDir, "_delta_log"),
      "_last_checkpoint")
    java.nio.file.Files.write(last.toPath,
      s"""{"version":$version,"size":${st.adds.size + 2}}"""
        .getBytes("UTF-8"))
  }

  /** The file set of snapshot `version`: latest checkpoint ≤ version
    * (by log-directory listing — `_last_checkpoint` may point past a
    * time-travel target), then the JSON commits after it, folded
    * last-action-per-path. Refuses loudly on a missing commit file, a
    * reader-version gate above 1 (whether it arrives in a JSON commit
    * OR in the checkpoint the prefix collapsed into), a checkpoint
    * without a protocol column, or an unknown action line.
    */
  def deltaFiles(spark: org.apache.spark.sql.SparkSession,
                 tableDir: String, version: Long): Seq[String] =
    foldDelta(spark, tableDir, version).adds.keysIterator.toSeq

  /** Time-travel read through the Delta log: exactly version N's file
    * set, never a data-directory listing.
    */
  def readDeltaVersion(spark: org.apache.spark.sql.SparkSession,
                       tableDir: String, version: Long): DataFrame = {
    val paths = deltaFiles(spark, tableDir, version)
    require(paths.nonEmpty, s"delta version $version has no files")
    spark.read.parquet(paths.map(p =>
      new java.io.File(tableDir, p).getAbsolutePath): _*)
  }
}
