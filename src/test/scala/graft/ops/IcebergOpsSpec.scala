package graft.ops

import graft.SparkSuite

/** Iceberg metadata-chain reader/writer: snapshot fold parity, time
  * travel through the metadata json, the format-version refusal gate,
  * and torn-manifest quarantine — the Delta test matrix transposed to
  * the metadata.json + manifest-list + manifest shape.
  */
class IcebergOpsSpec extends SparkSuite {
  import spark.implicits._

  /** Live data-file paths of `snapshotId`, through the current metadata
    * json → that snapshot's manifest list → manifests. */
  private def icebergFiles(tableDir: String, snapshotId: Long): Seq[String] =
    IcebergOps.icebergEntries(tableDir, snapshotId)._2.map(_._1)

  test("iceberg: commit fold, time travel, scan list == manifest state") {
    withTempDir("graft_iceberg_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0", "data/u1"))
      IcebergOps.icebergCommit(dir, 1, adds = Seq("data/u2"),
        removes = Seq("data/u1"))
      IcebergOps.icebergCommit(dir, 2, Seq("data/u1")) // re-add after remove
      // every snapshot resolves through the CURRENT (v3) metadata json
      assert(icebergFiles(dir, 0).toSet ==
        Set("data/u0", "data/u1"))
      assert(icebergFiles(dir, 1).toSet ==
        Set("data/u0", "data/u2"))
      assert(icebergFiles(dir, 2).toSet ==
        Set("data/u0", "data/u2", "data/u1"))
      val s1 = IcebergOps.readIcebergSnapshot(spark, dir, 1)
      assert(s1.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 4L))
      // machine-asserted: the scan's file list is exactly the manifest state
      assert(s1.inputFiles.forall(f => !f.contains("data/u1")))
      // unknown snapshot id refuses loudly
      intercept[IllegalArgumentException] {
        icebergFiles(dir, 9)
      }
      // a divergent re-commit refuses; an identical one is idempotent —
      // and the refusal must leave the PUBLISHED chain byte-identical
      // (validate-before-write: no half-overwritten manifest)
      val m2 = new java.io.File(dir, "metadata/m-2.avro").toPath
      val s2 = new java.io.File(dir, "metadata/snap-2.avro").toPath
      val m2Before = java.nio.file.Files.readAllBytes(m2)
      val s2Before = java.nio.file.Files.readAllBytes(s2)
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommit(dir, 2, Seq("data/u0"))
      }
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommit(dir, 2, Seq("data/u9")) // fresh path, still divergent
      }
      assert(java.util.Arrays.equals(m2Before,
        java.nio.file.Files.readAllBytes(m2)))
      assert(java.util.Arrays.equals(s2Before,
        java.nio.file.Files.readAllBytes(s2)))
      IcebergOps.icebergCommit(dir, 2, Seq("data/u1"))
      // non-consecutive snapshot refuses
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommit(dir, 7, Seq("data/u0"))
      }
    }
  }

  test("iceberg: manifest entries carry the spec's nested data_file shape") {
    withTempDir("graft_icebergm_") { dirPath =>
      val dir = dirPath.toString
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0"))
      // the manifest avro declares manifest_entry with a NESTED data_file
      // record (and nested empty partition record) — assert via the raw
      // schema JSON in the OCF header, not just our own reader
      val mBytes = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "metadata/m-0.avro").toPath)
      val header = new String(mBytes, "ISO-8859-1")
      assert(header.contains("\"name\":\"data_file\""))
      assert(header.contains("\"name\":\"file_path\""))
      assert(header.contains("\"name\":\"partition\""))
      assert(header.contains("\"type\":\"record\""))
      // and the INDEPENDENT Java avro library reads the nested entry
      import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      val rdr = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(mBytes),
        new GenericDatumReader[GenericRecord]())
      val rec = rdr.next()
      assert(rec.get("status") == 1)
      assert(rec.get("snapshot_id") == 0L)
      val df = rec.get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("file_path").toString == "data/p0")
      assert(df.get("file_format").toString == "PARQUET")
      assert(!rdr.hasNext)
      rdr.close()
    }
  }

  test("iceberg: format-version above 2 refuses the whole read") {
    withTempDir("graft_icebergv_") { dirPath =>
      val dir = dirPath.toString
      val md = new java.io.File(dir, "metadata")
      md.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(md, "v1.metadata.json").toPath,
        """{"format-version":3,"table-uuid":"x","location":"y",
          |"current-snapshot-id":0,"snapshots":[
          |{"snapshot-id":0,"manifest-list":"metadata/snap-0.avro"}]}"""
          .stripMargin.getBytes("UTF-8"))
      java.nio.file.Files.write(
        new java.io.File(md, "version-hint.text").toPath,
        "1".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        icebergFiles(dir, 0)
      }
      assert(e.getMessage.contains("format-version 3 unsupported"))
    }
  }

  test("iceberg: torn manifest bytes quarantine the snapshot read") {
    withTempDir("graft_icebergt_") { dirPath =>
      val dir = dirPath.toString
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0"))
      val mFile = new java.io.File(dir, "metadata/m-0.avro")
      val whole = java.nio.file.Files.readAllBytes(mFile.toPath)
      java.nio.file.Files.write(mFile.toPath,
        java.util.Arrays.copyOfRange(whole, 0, whole.length - 7))
      intercept[IllegalArgumentException] {
        icebergFiles(dir, 0)
      }
      // manifest-list length pin also catches silent truncation upstream
      val lFile = new java.io.File(dir, "metadata/snap-0.avro")
      java.nio.file.Files.write(mFile.toPath, whole) // restore manifest
      val lWhole = java.nio.file.Files.readAllBytes(lFile.toPath)
      assert(icebergFiles(dir, 0) == Seq("data/p0"))
      java.nio.file.Files.write(lFile.toPath,
        java.util.Arrays.copyOfRange(lWhole, 0, lWhole.length - 7))
      intercept[IllegalArgumentException] {
        icebergFiles(dir, 0)
      }
    }
  }

  test("iceberg: partitioned commits + manifest-level pruning, machine-asserted") {
    withTempDir("graft_icebergp_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "en"), (2L, "en")).toDF("id", "lang")
        .write.parquet(s"$dir/data/en0")
      Seq((3L, "de")).toDF("id", "lang").write.parquet(s"$dir/data/de0")
      Seq((4L, "fr")).toDF("id", "lang").write.parquet(s"$dir/data/fr0")
      IcebergOps.icebergCommitPartitioned(dir, 0, Seq("lang"),
        Seq("data/en0" -> Seq("en"), "data/de0" -> Seq("de")))
      IcebergOps.icebergCommitPartitioned(dir, 1, Seq("lang"),
        adds = Seq("data/fr0" -> Seq("fr")), removes = Seq("data/de0"))
      // entries carry the tuples; the spec columns come from metadata.json
      val (cols, entries) = IcebergOps.icebergEntries(dir, 1)
      assert(cols == Seq("lang"))
      assert(entries.toSet == Set("data/en0" -> Map("lang" -> "en"),
        "data/fr0" -> Map("lang" -> "fr")))
      // pruned read: ONLY the matching partition's file is in the scan
      val en = IcebergOps.readIcebergPruned(spark, dir, 1, Map("lang" -> "en"))
      assert(en.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(en.inputFiles.nonEmpty &&
        en.inputFiles.forall(_.contains("data/en0")))
      // time travel + pruning compose: de is live at snapshot 0 only
      val de0 = IcebergOps.readIcebergPruned(spark, dir, 0, Map("lang" -> "de"))
      assert(de0.select("id").as[Long].collect().toSeq == Seq(3L))
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergPruned(spark, dir, 1, Map("lang" -> "de"))
      }
      // a typo'd filter column refuses — never a silent full-table read
      val e = intercept[IllegalArgumentException] {
        IcebergOps.readIcebergPruned(spark, dir, 1, Map("language" -> "en"))
      }
      assert(e.getMessage.contains("non-partition columns"))
      // a mid-table spec change is now EVOLUTION (covered in the
      // spec-evolution test) — but combined with a REMOVE it refuses:
      // evolved chains are append-only
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommitPartitioned(dir, 2, Seq("lang", "src"),
          Seq("data/x" -> Seq("en", "a")), removes = Seq("data/en0"))
      }
      // a non-identity transform in external metadata refuses the read
      val vFile = new java.io.File(dir, "metadata/v2.metadata.json")
      val doctored = new String(
        java.nio.file.Files.readAllBytes(vFile.toPath), "UTF-8")
        .replace("\"transform\":\"identity\"", "\"transform\":\"bucket[16]\"")
      java.nio.file.Files.write(vFile.toPath, doctored.getBytes("UTF-8"))
      val e2 = intercept[IllegalArgumentException] {
        IcebergOps.icebergEntries(dir, 1)
      }
      assert(e2.getMessage.contains("bucket[16]"))
    }
  }

  test("iceberg: seeded manifest mutation fuzz — resolve or refuse loudly, never crash") {
    withTempDir("graft_icebergf_") { dirPath =>
      val dir = dirPath.toString
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0", "data/p1"))
      val mFile = new java.io.File(dir, "metadata/m-0.avro")
      val whole = java.nio.file.Files.readAllBytes(mFile.toPath)
      val rnd = new scala.util.Random(123)
      var i = 0
      while (i < 400) {
        val b = whole.clone()
        var k = 0
        val flips = 1 + rnd.nextInt(3)
        while (k < flips) {
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          k += 1
        }
        java.nio.file.Files.write(mFile.toPath, b)
        // either resolves (the flip hit a benign byte) or refuses with the
        // named IllegalArgumentException — never an index/NPE escape
        try icebergFiles(dir, 0)
        catch { case _: IllegalArgumentException => () }
        i += 1
      }
      java.nio.file.Files.write(mFile.toPath, whole)
      assert(icebergFiles(dir, 0).toSet ==
        Set("data/p0", "data/p1"))
    }
  }

  test("iceberg: metadata-only delta migration reads the same files, zero copies") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_d2i_d_") { dDirPath =>
      val dDir = dDirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dDir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dDir/data/u1")
      SnapshotOps.deltaCommit(dDir, 0, Seq("data/u0", "data/u1"))
      SnapshotOps.deltaCommit(dDir, 1, adds = Nil, removes = Seq("data/u1"))
      withTempDir("graft_d2i_i_") { iDirPath =>
        val iDir = iDirPath.toString
        IcebergOps.importDelta(spark, dDir, iDir, 1)
        val ice = IcebergOps.readIcebergSnapshot(spark, iDir, 0)
        val del = SnapshotOps.readDeltaVersion(spark, dDir, 1)
        assert(ice.select("id").as[Long].collect().sorted.toSeq ==
          del.select("id").as[Long].collect().sorted.toSeq)
        // the SAME physical files — no data was copied into the iceberg dir
        assert(ice.inputFiles.toSet == del.inputFiles.toSet)
        assert(!new java.io.File(iDir, "data").exists())
        // the migrated chain keeps appending independently of the delta log
        Seq((9L, "z")).toDF("id", "v").write.parquet(s"$iDir/data/n0")
        IcebergOps.icebergCommit(iDir, 1, Seq("data/n0"))
        assert(IcebergOps.readIcebergSnapshot(spark, iDir, 1)
          .agg(org.apache.spark.sql.functions.sum(col("id"))).head.getLong(0)
          == 1L + 2L + 9L)
      }
    }
  }

  test("iceberg: orphan audit — removed-but-time-travelable files are NOT orphans") {
    withTempDir("graft_icebergo_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((3L, "z")).toDF("id", "v").write.parquet(s"$dir/data/zombie")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0", "data/u1"))
      IcebergOps.icebergCommit(dir, 1, adds = Nil, removes = Seq("data/u1"))
      // u1 is removed at snapshot 1 but reachable via snapshot 0 → kept;
      // zombie was never committed → the one orphan
      assert(IcebergOps.orphanFiles(dir) == Seq("data/zombie"))
      // a table whose every directory is referenced audits clean
      java.nio.file.Files.walk(new java.io.File(dir, "data/zombie").toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      assert(IcebergOps.orphanFiles(dir).isEmpty)
    }
  }

  test("iceberg: version-hint fallback scans vN.metadata.json") {
    withTempDir("graft_icebergh_") { dirPath =>
      val dir = dirPath.toString
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0"))
      IcebergOps.icebergCommit(dir, 1, Seq("data/p1"))
      // drop the hint: the reader must fall back to max(vN)
      new java.io.File(dir, "metadata/version-hint.text").delete()
      assert(icebergFiles(dir, 1).toSet ==
        Set("data/p0", "data/p1"))
      assert(icebergFiles(dir, 0) == Seq("data/p0"))
    }
  }

  test("iceberg: an idempotent replay never regresses the version hint") {
    withTempDir("graft_iceberghr_") { dirPath =>
      val dir = dirPath.toString
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0"))
      IcebergOps.icebergCommit(dir, 1, Seq("data/p1"))
      IcebergOps.icebergCommit(dir, 2, Seq("data/p2"))
      // replay snapshot 0 byte-identically: legal (idempotent), but the
      // hint must stay at 3 — a regressed hint would resolve through
      // v1.metadata.json and make snapshots 1..2 unreachable
      IcebergOps.icebergCommit(dir, 0, Seq("data/p0"))
      val hint = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "metadata/version-hint.text").toPath),
        "UTF-8").trim
      assert(hint == "3")
      assert(icebergFiles(dir, 2).toSet ==
        Set("data/p0", "data/p1", "data/p2"))
    }
  }

  test("iceberg interop: a library-written chain reads identically to ours") {
    withTempDir("graft_iceinterop_") { dirPath =>
      val dir = dirPath.toString
      // four tiny parquet buckets shared by BOTH chains
      (0 to 3).foreach { b =>
        Seq((b.toLong, s"v$b")).toDF("id", "v")
          .write.parquet(s"$dir/data/b$b")
      }
      val abs = (0 to 3).map(b =>
        new java.io.File(s"$dir/data/b$b").getAbsolutePath)
      // self-written chain, same 3-snapshot history as the fixture
      val ours = s"$dir/ours"
      IcebergOps.icebergCommit(ours, 0, Seq(abs(0), abs(1)))
      IcebergOps.icebergCommit(ours, 1, adds = Seq(abs(2)),
        removes = Seq(abs(1)))
      IcebergOps.icebergCommit(ours, 2, Seq(abs(3)))
      // library-written chain: Java avro manifests, union-wrapped
      // optionals, logical-map stats arrays, absolute file: URIs
      val theirs = s"$dir/theirs"
      graft.queries.IcebergInteropFixture.write(theirs, abs)
      def canon(table: String, sid: Long): Set[String] =
        icebergFiles(table, sid).map(p =>
          new java.io.File(p.stripPrefix("file:")).getCanonicalPath).toSet
      (0L to 2L).foreach { sid =>
        assert(canon(ours, sid) == canon(theirs, sid),
          s"file sets diverge at snapshot $sid")
        val a = IcebergOps.readIcebergSnapshot(spark, ours, sid)
          .select("id").as[Long].collect().sorted.toSeq
        val b = IcebergOps.readIcebergSnapshot(spark, theirs, sid)
          .select("id").as[Long].collect().sorted.toSeq
        assert(a == b, s"row sets diverge at snapshot $sid")
      }
      assert(canon(theirs, 2L) == Set(abs(0), abs(2), abs(3)).map(p =>
        new java.io.File(p).getCanonicalPath))
    }
  }

  test("iceberg v2: positional deletes subtract exactly, time travel intact") {
    withTempDir("graft_icev2_") { dirPath =>
      val dir = dirPath.toString
      def oneFile(rows: Seq[(Long, String)], sub: String): String = {
        rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
          .write.parquet(s"$dir/data/$sub")
        new java.io.File(s"$dir/data/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
      }
      val f0 = oneFile(Seq((1L, "a"), (2L, "b"), (3L, "c")), "u0")
      val f1 = oneFile(Seq((4L, "d"), (5L, "e")), "u1")
      IcebergOps.icebergCommitV2(dir, 0, Seq(f0, f1))
      // delete file: retire id=2 (ordinal 1 of the sorted u0 file) and
      // id=5 (ordinal 1 of u1) — positions from the files' actual layout
      import org.apache.spark.sql.functions.col
      val delRows = spark.read.parquet(f0, f1)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("id"))
        .filter(col("id").isin(2L, 5L))
        .select(col("file_path"), col("pos"))
      delRows.repartition(1).write.parquet(s"$dir/data/del1")
      val delFile = new java.io.File(s"$dir/data/del1").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted.head
      IcebergOps.icebergCommitV2(dir, 1, adds = Nil,
        deleteFiles = Seq(delFile))
      // snapshot 1: merge-on-read subtraction
      val s1 = IcebergOps.readIcebergSnapshot(spark, dir, 1)
      assert(s1.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 4L))
      // the subtraction plan is a BROADCAST anti-join (data never shuffles)
      val plan = s1.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti") && plan.contains("Broadcast"), plan)
      // time travel to snapshot 0 still sees every row
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 0)
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
      // delete files are referenced metadata, not orphans; never data
      assert(icebergFiles(dir, 1).toSet == Set(f0, f1))
      assert(IcebergOps.orphanFiles(dir) == Nil)
      // v2 chains continue: snapshot 2 adds a file, deletes carry forward
      val f2 = oneFile(Seq((9L, "z")), "u2")
      IcebergOps.icebergCommitV2(dir, 2, Seq(f2))
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 2)
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 4L, 9L))
    }
  }

  test("iceberg v2: equality deletes refuse the whole snapshot read") {
    withTempDir("graft_icev2e_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      val f0 = new java.io.File(s"$dir/data/u0").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted.head
      IcebergOps.icebergCommitV2(dir, 0, Seq(f0))
      // hand-craft snapshot 1 with an EQUALITY-delete manifest (content=2
      // in data_file): the reader must refuse loudly, not skip silently
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val es = IcebergOps.manifestEntrySchemaV2(Nil)
      val eqManifest = graft.functions.AvroOcf.file(
        new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
          1, 1L, new GenericInternalRow(Array[Any](
            2, UTF8String.fromString("data/eqdel.parquet"),
            UTF8String.fromString("PARQUET"),
            new GenericInternalRow(Array.empty[Any]), 0L, 0L)))))),
        es, "null")
      val md = new java.io.File(dir, "metadata")
      java.nio.file.Files.write(
        new java.io.File(md, "m-1-deletes.avro").toPath, eqManifest)
      val dataManifest = java.nio.file.Files.readAllBytes(
        new java.io.File(md, "m-0-data.avro").toPath)
      val listBytes = graft.functions.AvroOcf.file(
        new GenericArrayData(Array[Any](
          new GenericInternalRow(Array[Any](
            UTF8String.fromString("metadata/m-0-data.avro"),
            dataManifest.length.toLong, 0, 0, 1L)),
          new GenericInternalRow(Array[Any](
            UTF8String.fromString("metadata/m-1-deletes.avro"),
            eqManifest.length.toLong, 0, 1, 1L)))),
        IcebergOps.manifestFileSchemaV2, "null")
      java.nio.file.Files.write(
        new java.io.File(md, "snap-1.avro").toPath, listBytes)
      val v1 = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(md, "v1.metadata.json").toPath), "UTF-8")
      val v2 = v1
        .replace("\"current-snapshot-id\":0", "\"current-snapshot-id\":1")
        .replace("\"snapshots\":[", "\"snapshots\":[" +
          """{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1,""" +
          """"manifest-list":"metadata/snap-1.avro"},""")
      java.nio.file.Files.write(
        new java.io.File(md, "v2.metadata.json").toPath, v2.getBytes("UTF-8"))
      java.nio.file.Files.write(
        new java.io.File(md, "version-hint.text").toPath, "2".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        IcebergOps.readIcebergSnapshot(spark, dir, 1)
      }
      assert(e.getMessage.contains("equality deletes unsupported"))
    }
  }

  test("iceberg: expire orphans exactly the expired-only files; vacuum removes them") {
    withTempDir("graft_iceexp_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/data/keep")
      Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/gone")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/late")
      IcebergOps.icebergCommit(dir, 0, Seq("data/keep", "data/gone"))
      IcebergOps.icebergCommit(dir, 1, adds = Nil, removes = Seq("data/gone"))
      IcebergOps.icebergCommit(dir, 2, Seq("data/late"))
      // pre-expiry: gone is reachable through snapshot 0 — NOT an orphan
      assert(IcebergOps.orphanFiles(dir) == Nil)
      // retaining the last two expires snapshot 0 only
      assert(IcebergOps.expireSnapshots(dir, retainLast = 2) == Seq(0L))
      // a file referenced only by the expired snapshot is now orphaned;
      // files reachable through retained snapshots never are
      assert(IcebergOps.orphanFiles(dir) == Seq("data/gone"))
      assert(IcebergOps.vacuum(dir) == Seq("data/gone"))
      assert(!new java.io.File(dir, "data/gone").exists())
      assert(IcebergOps.orphanFiles(dir) == Nil)
      // retained snapshots stay readable; the expired one refuses
      assert(icebergFiles(dir, 2).toSet ==
        Set("data/keep", "data/late"))
      assert(icebergFiles(dir, 1) == Seq("data/keep"))
      intercept[IllegalArgumentException] {
        icebergFiles(dir, 0)
      }
      // the current snapshot is always protected, even at retainLast=1
      assert(IcebergOps.expireSnapshots(dir, retainLast = 1) == Seq(1L))
      assert(icebergFiles(dir, 2).toSet ==
        Set("data/keep", "data/late"))
      // expiring when nothing qualifies is a no-op
      assert(IcebergOps.expireSnapshots(dir, retainLast = 5) == Nil)
      // appending after expiry refuses loudly instead of resurrecting
      // expired history (the divergent-version gate)
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommit(dir, 3, Seq("data/keep2"))
      }
    }
  }

  test("iceberg: metadata-only count matches the scan at every snapshot") {
    // v1: multi-part bucket directories — the writer sums the footer
    // record_count of every parquet child, so the stamped stats are
    // REAL row counts, not declared zeros
    withTempDir("graft_icecnt_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.parquet(s"$dir/data/u0")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((5L, "e"), (6L, "f")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0", "data/u1"))
      IcebergOps.icebergCommit(dir, 1, adds = Seq("data/u2"),
        removes = Seq("data/u1"))
      IcebergOps.icebergCommit(dir, 2, Seq("data/u1")) // re-add
      (0 to 2).foreach { sid =>
        assert(IcebergOps.icebergCount(dir, sid) ==
          IcebergOps.readIcebergSnapshot(spark, dir, sid).count(),
          s"snapshot $sid")
      }
      assert(IcebergOps.icebergCount(dir, 0) == 4L)
      assert(IcebergOps.icebergCount(dir, 2) == 6L)

      // v2 merge-on-read: Σ live data counts − Σ positional-delete counts,
      // tracked across a delete snapshot AND a later append that carries
      // the deletes forward
      withTempDir("graft_icecnt2_") { d2Path =>
        val d2 = d2Path.toString
        def oneFile(rows: Seq[(Long, String)], sub: String): String = {
          rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
            .write.parquet(s"$d2/data/$sub")
          new java.io.File(s"$d2/data/$sub").listFiles()
            .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
            .sorted.head
        }
        val f0 = oneFile(Seq((1L, "a"), (2L, "b"), (3L, "c")), "u0")
        val f1 = oneFile(Seq((4L, "d"), (5L, "e")), "u1")
        IcebergOps.icebergCommitV2(d2, 0, Seq(f0, f1))
        import org.apache.spark.sql.functions.col
        val delRows = spark.read.parquet(f0, f1)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("id"))
          .filter(col("id").isin(2L, 5L))
          .select(col("file_path"), col("pos"))
        delRows.repartition(1).write.parquet(s"$d2/data/del1")
        val delFile = new java.io.File(s"$d2/data/del1").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
        IcebergOps.icebergCommitV2(d2, 1, adds = Nil, deleteFiles = Seq(delFile))
        val f2 = oneFile(Seq((9L, "z")), "u2")
        IcebergOps.icebergCommitV2(d2, 2, Seq(f2))
        assert(IcebergOps.icebergCount(d2, 0) == 5L)
        assert(IcebergOps.icebergCount(d2, 1) == 3L)
        assert(IcebergOps.icebergCount(d2, 2) == 4L)
        (0 to 2).foreach { sid =>
          assert(IcebergOps.icebergCount(d2, sid) ==
            IcebergOps.readIcebergSnapshot(spark, d2, sid).count(),
            s"v2 snapshot $sid")
        }
      }
    }
  }

  test("iceberg: column bounds stamp + value-range pruning, machine-asserted") {
    withTempDir("graft_icebnd_") { dirPath =>
      val dir = dirPath.toString
      // three disjoint id bands + a double column `x` that CANNOT carry
      // long bounds (footer stats are not int32/int64) — its files must
      // always be conservatively kept
      Seq((0L, 0.5), (9L, 1.5)).toDF("id", "x").write.parquet(s"$dir/data/b0")
      Seq((10L, 2.5), (19L, 3.5)).toDF("id", "x")
        .write.parquet(s"$dir/data/b1")
      Seq((20L, 4.5), (29L, 5.5)).toDF("id", "x")
        .write.parquet(s"$dir/data/b2")
      IcebergOps.icebergCommit(dir, 0, Seq("data/b0", "data/b1", "data/b2"),
        statsCols = Seq("id", "x"))
      def pruned(lo: Long, hi: Long): Set[String] =
        IcebergOps.boundsPrunedFiles(dir, 0, "id", lo, hi).toSet
      // exact skipping: only the intersecting bands survive
      assert(pruned(0L, 9L) == Set("data/b0"))
      assert(pruned(5L, 15L) == Set("data/b0", "data/b1"))
      assert(pruned(12L, 28L) == Set("data/b1", "data/b2"))
      assert(pruned(0L, 100L) ==
        Set("data/b0", "data/b1", "data/b2"))
      assert(pruned(50L, 60L).isEmpty) // all provably disjoint
      // the read over a pruned plan returns exactly the BETWEEN rows
      val got = IcebergOps.readIcebergBoundsPruned(spark, dir, 0, "id", 5L, 15L)
      assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(9L, 10L))
      // and its scan lists ONLY the surviving files
      assert(got.inputFiles.forall(f => !f.contains("data/b2")))
      // `x` registered but double-typed: no long bounds stamped, so every
      // file is conservatively kept and the residual filter does the work
      assert(IcebergOps.boundsPrunedFiles(dir, 0, "x", 2L, 3L).toSet ==
        Set("data/b0", "data/b1", "data/b2"))
      assert(IcebergOps.readIcebergBoundsPruned(spark, dir, 0, "x", 2L, 3L)
        .select("x").as[Double].collect().toSeq == Seq(2.5))
      // an unregistered column refuses loudly (typo must not full-scan)
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergBoundsPruned(spark, dir, 0, "nope", 0L, 1L)
      }
      // an all-disjoint range refuses rather than returning a wrong scan
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergBoundsPruned(spark, dir, 0, "id", 50L, 60L)
      }
      // a chain committed WITHOUT statsCols refuses the bounds read
      withTempDir("graft_icebnd0_") { plainPath =>
        val plain = plainPath.toString
        Seq((1L, "a")).toDF("id", "v").write.parquet(s"$plain/data/u0")
        IcebergOps.icebergCommit(plain, 0, Seq("data/u0"))
        intercept[IllegalArgumentException] {
          IcebergOps.readIcebergBoundsPruned(spark, plain, 0, "id", 0L, 1L)
        }
        // statsCols are part of the chain contract: changing them refuses
        intercept[IllegalArgumentException] {
          IcebergOps.icebergCommit(dir, 1, Seq("data/b0"), statsCols = Seq("id"))
        }
        // appends re-stamp bounds; the PLAIN fold still reads a stats
        // chain (writer-only fields resolve away), and time travel holds
        Seq((40L, 6.5)).toDF("id", "x").write.parquet(s"$dir/data/b3")
        IcebergOps.icebergCommit(dir, 1, Seq("data/b3"),
          statsCols = Seq("id", "x"))
        assert(icebergFiles(dir, 1).toSet ==
          Set("data/b0", "data/b1", "data/b2", "data/b3"))
        assert(IcebergOps.boundsPrunedFiles(dir, 1, "id", 35L, 50L) ==
          Seq("data/b3"))
        assert(IcebergOps.icebergCount(dir, 1) == 7L)
      }
    }
  }

  test("iceberg: metadata tables derive from the chain, zero data reads") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icemeta_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, 0.5), (2L, 1.5)).toDF("id", "x").write.parquet(s"$dir/data/u0")
      Seq((10L, 2.5)).toDF("id", "x").write.parquet(s"$dir/data/u1")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0"),
        statsCols = Seq("id"))
      IcebergOps.icebergCommit(dir, 1, Seq("data/u1"),
        statsCols = Seq("id"))
      // snapshots: per-snapshot live totals from manifest stats
      val snaps = IcebergOps.metaTable(spark, dir, "snapshots")
        .orderBy(col("snapshot_id")).collect()
      assert(snaps.map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
        .toSeq == Seq((0L, 1L, 2L), (1L, 2L, 3L)))
      assert(snaps.forall(_.getLong(5) > 0L)) // real byte totals
      // history: linear lineage, current flagged
      val hist = IcebergOps.metaTable(spark, dir, "history")
        .orderBy(col("snapshot_id")).collect()
      assert(hist.map(r => (r.getLong(0), r.isNullAt(1), r.getBoolean(2)))
        .toSeq == Seq((0L, true, false), (1L, false, true)))
      assert(hist(1).getLong(1) == 0L)
      // manifests: the current snapshot's list, entry counts decoded
      val mfs = IcebergOps.metaTable(spark, dir, "manifests").collect()
      assert(mfs.length == 1 && mfs(0).getString(0) == "metadata/m-1.avro")
      assert(mfs(0).getLong(5) == 2L) // carried u0 + added u1
      assert(mfs(0).getLong(1) ==
        new java.io.File(dir, "metadata/m-1.avro").length)
      // files: live set with name-keyed bounds maps
      val files = IcebergOps.metaTable(spark, dir, "files")
        .orderBy(col("file_path")).collect()
      assert(files.map(_.getString(1)).toSeq == Seq("data/u0", "data/u1"))
      assert(files.map(r => (r.getLong(4),
        r.getMap[String, Long](6)("id"), r.getMap[String, Long](7)("id")))
        .toSeq == Seq((2L, 1L, 2L), (1L, 10L, 10L)))
      // v2 chain: delete files appear with content=1
      withTempDir("graft_icemeta2_") { d2Path =>
        val d2 = d2Path.toString
        def oneFile(rows: Seq[(Long, String)], sub: String): String = {
          rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
            .write.parquet(s"$d2/data/$sub")
          new java.io.File(s"$d2/data/$sub").listFiles()
            .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
            .sorted.head
        }
        val f0 = oneFile(Seq((1L, "a"), (2L, "b")), "u0")
        IcebergOps.icebergCommitV2(d2, 0, Seq(f0))
        val del = spark.read.parquet(f0)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"))
          .limit(1)
        del.repartition(1).write.parquet(s"$d2/data/del")
        val delFile = new java.io.File(s"$d2/data/del").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
        IcebergOps.icebergCommitV2(d2, 1, adds = Nil,
          deleteFiles = Seq(delFile))
        val v2files = IcebergOps.metaTable(spark, d2, "files")
          .orderBy(col("content")).collect()
        assert(v2files.map(r => (r.getInt(0), r.getLong(4))).toSeq ==
          Seq((0, 2L), (1, 1L)))
        // partitions: grouped by tuple (partitioned chain)
        withTempDir("graft_icemeta3_") { p3Path =>
          val p3 = p3Path.toString
          Seq((1L, "a")).toDF("id", "v").write.parquet(s"$p3/data/ka")
          Seq((2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(s"$p3/data/kb")
          IcebergOps.icebergCommitPartitioned(p3, 0, Seq("k"),
            Seq("data/ka" -> Seq("a"), "data/kb" -> Seq("b")))
          val parts = IcebergOps.metaTable(spark, p3, "partitions").collect()
          assert(parts.map(r => (r.getMap[String, String](0)("k"),
            r.getLong(1), r.getLong(2))).toSeq ==
            Seq(("a", 1L, 1L), ("b", 1L, 2L)))
          // unknown kind refuses loudly
          intercept[IllegalArgumentException] {
            IcebergOps.metaTable(spark, dir, "nope")
          }
        }
      }
    }
  }

  test("iceberg: schema evolution — add/rename/drop by field id, time travel") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_iceevo_") { dirPath =>
      val dir = dirPath.toString
      val s0 = Seq((1, "id", "long"), (2, "v", "string"))
      val s1 = s0 :+ ((5, "score", "double"))
      // rename v -> label (id 2 kept), drop score (id 5 gone)
      val s2 = Seq((1, "id", "long"), (2, "label", "string"))
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((10L, "x", 0.5)).toDF("id", "v", "score")
        .write.parquet(s"$dir/data/u1")
      IcebergOps.icebergCommitEvolved(dir, 0, s0, Seq("data/u0"))
      IcebergOps.icebergCommitEvolved(dir, 1, s1, Seq("data/u1"))
      IcebergOps.icebergCommitEvolved(dir, 2, s2, adds = Nil)
      // snapshot 1: the pre-evolution file surfaces score as null
      val r1 = IcebergOps.readIcebergEvolved(spark, dir, 1)
        .orderBy(col("id")).collect()
      assert(r1.map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq ==
        Seq((1L, "a", -1.0), (2L, "b", -1.0), (10L, "x", 0.5)))
      // snapshot 2: rename resolves BY ID (old on-disk name 'v' -> 'label'),
      // dropped 'score' is gone
      val r2 = IcebergOps.readIcebergEvolved(spark, dir, 2)
      assert(r2.columns.toSeq == Seq("id", "label"))
      assert(r2.orderBy(col("id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (10L, "x")))
      // time travel: snapshot 0 reads its own schema and file set
      val r0 = IcebergOps.readIcebergEvolved(spark, dir, 0)
      assert(r0.columns.toSeq == Seq("id", "v") && r0.count() == 2L)
      // metadata-only evolution: the chain holds 3 schema versions, and a
      // no-change commit REUSES its schema-id instead of minting one
      Seq((20L, "y")).toDF("id", "label").write.parquet(s"$dir/data/u2")
      IcebergOps.icebergCommitEvolved(dir, 3, s2, Seq("data/u2"))
      val meta = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "metadata/v4.metadata.json").toPath), "UTF-8")
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(meta)
      assert(root.get("schemas").size() == 3)
      assert(root.get("current-schema-id").asInt() == 2)
      // the new file (written under the renamed schema) unions with the
      // by-id-resolved old files
      assert(IcebergOps.readIcebergEvolved(spark, dir, 3)
        .orderBy(col("id")).collect().map(_.getString(1)).toSeq ==
        Seq("a", "b", "x", "y"))
      // a field id may never change type
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommitEvolved(dir, 4,
          Seq((1, "id", "long"), (2, "label", "double")), Nil)
      }
      // new fields need a FRESH id above every id ever used — an unused
      // id below the high-water mark (here 4 < 5) refuses, so a dropped
      // slot can never be silently repurposed
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommitEvolved(dir, 4,
          s2 :+ ((4, "extra", "string")), Nil)
      }
      // non-evolved chains refuse the evolved read loudly
      withTempDir("graft_iceevo0_") { plainPath =>
        val plain = plainPath.toString
        Seq((1L, "a")).toDF("id", "v").write.parquet(s"$plain/data/u0")
        IcebergOps.icebergCommit(plain, 0, Seq("data/u0"))
        intercept[IllegalArgumentException] {
          IcebergOps.readIcebergEvolved(spark, plain, 0)
        }
      }
    }
  }

  test("iceberg: refs — immutable tags, movable branches, expiry protection") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_iceref_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0"))
      IcebergOps.icebergCommit(dir, 1, Seq("data/u1"))
      IcebergOps.icebergCommit(dir, 2, Seq("data/u2"))
      IcebergOps.icebergSetRef(dir, "frozen-v0", 0L, "tag")
      IcebergOps.icebergSetRef(dir, "dev", 1L, "branch")
      // read by name resolves through the refs map
      assert(IcebergOps.readIcebergRef(spark, dir, "frozen-v0")
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(IcebergOps.resolveRef(dir, "dev") == 1L)
      // a branch advances; a tag never moves; types never flip
      IcebergOps.icebergSetRef(dir, "dev", 2L, "branch")
      assert(IcebergOps.resolveRef(dir, "dev") == 2L)
      IcebergOps.icebergSetRef(dir, "frozen-v0", 0L, "tag") // idempotent ok
      intercept[IllegalArgumentException] {
        IcebergOps.icebergSetRef(dir, "frozen-v0", 1L, "tag")
      }
      intercept[IllegalArgumentException] {
        IcebergOps.icebergSetRef(dir, "dev", 2L, "tag")
      }
      // unknown snapshot / unknown ref refuse
      intercept[IllegalArgumentException] {
        IcebergOps.icebergSetRef(dir, "x", 9L, "tag")
      }
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergRef(spark, dir, "nope")
      }
      // the refs metadata table lists both
      val refs = IcebergOps.metaTable(spark, dir, "refs").collect()
      assert(refs.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq == Seq(("dev", "branch", 2L), ("frozen-v0", "tag", 0L)))
      // expiry PROTECTS ref'd snapshots: retain 1 would keep only
      // snapshot 2, but the tag holds 0 — only snapshot 1 expires
      val expired = IcebergOps.expireSnapshots(dir, retainLast = 1)
      assert(expired == Seq(1L))
      assert(IcebergOps.readIcebergRef(spark, dir, "frozen-v0").count() == 2L)
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergSnapshot(spark, dir, 1)
      }
      // and vacuum must not touch the tag-protected file set
      val vacuumed = IcebergOps.vacuum(dir)
      assert(!vacuumed.exists(_.contains("u0")),
        s"vacuum removed tag-protected data: $vacuumed")
      assert(IcebergOps.readIcebergRef(spark, dir, "frozen-v0").count() == 2L)
    }
  }

  test("iceberg: partition-spec evolution — repartition without rewriting") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icespec_") { dirPath =>
      val dir = dirPath.toString
      // all files share the DATA schema; what evolves is which columns
      // the partition TUPLE carries
      Seq((1L, "a", "x"), (2L, "a", "y")).toDF("id", "lang", "region")
        .write.parquet(s"$dir/data/la")
      Seq((3L, "b", "x")).toDF("id", "lang", "region")
        .write.parquet(s"$dir/data/lb")
      IcebergOps.icebergCommitPartitioned(dir, 0, Seq("lang"),
        Seq("data/la" -> Seq("a"), "data/lb" -> Seq("b")))
      Seq((4L, "a", "x")).toDF("id", "lang", "region")
        .write.parquet(s"$dir/data/lax")
      Seq((5L, "a", "y")).toDF("id", "lang", "region")
        .write.parquet(s"$dir/data/lay")
      // snapshot 1 switches to (lang, region): metadata-only — the old
      // manifests are re-referenced, zero data files touched
      IcebergOps.icebergCommitPartitioned(dir, 1, Seq("lang", "region"),
        Seq("data/lax" -> Seq("a", "x"), "data/lay" -> Seq("a", "y")))
      assert(icebergFiles(dir, 1).toSet ==
        Set("data/la", "data/lb", "data/lax", "data/lay"))
      // per-file tuples reflect each file's OWN spec
      val maps = IcebergOps.icebergEntries(dir, 1)._2.toMap
      assert(maps("data/la") == Map("lang" -> "a"))
      assert(maps("data/lax") == Map("lang" -> "a", "region" -> "x"))
      // pruning on a column EVERY spec carries skips exactly
      val byLang = IcebergOps.readIcebergPruned(spark, dir, 1,
        Map("lang" -> "a"))
      assert(byLang.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 4L, 5L))
      assert(byLang.inputFiles.forall(f => !f.contains("data/lb")))
      // pruning on the NEW column: old-spec files conservatively kept,
      // new-spec mismatches skipped, residual filter restores exactness
      val byRegion = IcebergOps.readIcebergPruned(spark, dir, 1,
        Map("region" -> "x"))
      assert(byRegion.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 4L))
      assert(byRegion.inputFiles.forall(f => !f.contains("data/lay")))
      assert(IcebergOps.readIcebergPruned(spark, dir, 1,
        Map("lang" -> "a", "region" -> "y"))
        .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 5L))
      // time travel behind the evolution still resolves the old spec
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 0)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(IcebergOps.icebergCount(dir, 1) == 5L)
      // incremental changes span the evolution boundary
      assert(IcebergOps.readIcebergChanges(spark, dir, 0, 1)
        .select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L))
      // spec-evolved chains are APPEND-ONLY: removes refuse loudly
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCommitPartitioned(dir, 2, Seq("lang", "region"),
          Nil, removes = Seq("data/la"))
      }
      // appends continue under the current spec
      Seq((6L, "b", "z")).toDF("id", "lang", "region")
        .write.parquet(s"$dir/data/lbz")
      IcebergOps.icebergCommitPartitioned(dir, 2, Seq("lang", "region"),
        Seq("data/lbz" -> Seq("b", "z")))
      assert(IcebergOps.icebergCount(dir, 2) == 6L)
      assert(IcebergOps.readIcebergPruned(spark, dir, 2,
        Map("region" -> "z"))
        .select("id").as[Long].collect().toSeq == Seq(6L))
      // the partitions metadata table groups by each file's own tuple
      val parts = IcebergOps.metaTable(spark, dir, "partitions").collect()
        .map(r => (r.getMap[String, String](0).toString.length > 0,
          r.getLong(1))).length
      assert(parts == 5) // la, lb, lax, lay, lbz — five distinct tuples
      // unknown filter columns still refuse
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergPruned(spark, dir, 2, Map("nope" -> "x"))
      }

      // COMPACTION collapses the multi-spec chain to one spec: rows
      // identical, every file now carries a (lang, region) tuple, and
      // the append-only restriction LIFTS — a remove works again
      val sid = IcebergOps.icebergCompact(spark, dir, Seq("lang", "region"))
      assert(sid == 3L)
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 3)
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L, 6L))
      val postMaps = IcebergOps.icebergEntries(dir, 3)._2
      assert(postMaps.nonEmpty && postMaps.forall(_._2.keySet ==
        Set("lang", "region")))
      // pruning on region is now EXACT (no conservative keeps): the
      // scan lists only matching compacted dirs
      val ry = IcebergOps.readIcebergPruned(spark, dir, 3,
        Map("region" -> "y"))
      assert(ry.select("id").as[Long].collect().sorted.toSeq ==
        Seq(2L, 5L))
      assert(ry.inputFiles.forall(_.contains("compact3")))
      // the old snapshots still time-travel over the OLD files
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 0)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // and a remove now succeeds (single-spec chain again)
      val victim = postMaps.collectFirst {
        case (p, pv) if pv == Map("lang" -> "b", "region" -> "x") => p
      }.get
      IcebergOps.icebergCommitPartitioned(dir, 4, Seq("lang", "region"),
        Nil, removes = Seq(victim))
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 4)
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 4L, 5L, 6L))
      // tuple-cardinality guard refuses loudly
      intercept[IllegalArgumentException] {
        IcebergOps.icebergCompact(spark, dir, Seq("lang", "region"),
          maxTuples = 2)
      }
    }
  }

  test("iceberg: incremental changes read only the delta files") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icechg_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0", "data/u1"))
      IcebergOps.icebergCommit(dir, 1, adds = Seq("data/u2"),
        removes = Seq("data/u1"))
      // 0 -> 1: u2 rows arrive as inserts, u1 rows as deletes; u0 (the
      // unchanged file) is NEVER in the scan
      val c01 = IcebergOps.readIcebergChanges(spark, dir, 0, 1)
      val byType = c01.collect()
        .groupBy(_.getString(2)).view.mapValues(_.map(_.getLong(0)).sorted
          .toSeq).toMap
      assert(byType == Map("insert" -> Seq(4L), "delete" -> Seq(3L)))
      assert(c01.inputFiles.forall(f => !f.contains("data/u0")))
      // from empty (-1): the full first load as inserts
      val cFull = IcebergOps.readIcebergChanges(spark, dir, -1, 0)
      assert(cFull.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      assert(cFull.select("_change_type").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("insert"))
      // a no-diff pair refuses (a silent empty scan would read as "no
      // changes" when the caller mis-ordered snapshots)
      IcebergOps.icebergCommit(dir, 2, adds = Nil)
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergChanges(spark, dir, 1, 2)
      }
      intercept[IllegalArgumentException] {
        IcebergOps.readIcebergChanges(spark, dir, 1, 1)
      }
      // v2 chains refuse (row-level deletes invisible to a file diff)
      withTempDir("graft_icechg2_") { d2Path =>
        val d2 = d2Path.toString
        Seq((1L, "a")).toDF("id", "v").repartition(1)
          .write.parquet(s"$d2/data/u0")
        val f0 = new java.io.File(s"$d2/data/u0").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
        IcebergOps.icebergCommitV2(d2, 0, Seq(f0))
        IcebergOps.icebergCommitV2(d2, 1, Seq())
        intercept[IllegalArgumentException] {
          IcebergOps.readIcebergChanges(spark, d2, 0, 1)
        }
      }
    }
  }

  test("compaction reads the live set O(1) times, not once per tuple") {
    import org.apache.spark.sql.functions._
    withTempDir("graft_icecmp1_") { dirPath =>
      val dir = dirPath.toString
      // 8 tuples x 2000 rows with a 100-char payload: large enough that a
      // per-tuple re-scan of the table separates cleanly from footer noise
      val langs = ('a' to 'h').map(_.toString)
      val docs = spark.range(16000).select(col("id"),
        expr("substring('abcdefgh', cast(id % 8 as int) + 1, 1)").as("lang"),
        expr("repeat('x', 100)").as("pad"))
      langs.foreach { l =>
        docs.filter(col("lang") === l)
          .write.mode("overwrite").parquet(s"$dir/data/l$l")
      }
      IcebergOps.icebergCommitPartitioned(dir, 0, Seq("lang"),
        langs.map(l => s"data/l$l" -> Seq(l)))
      def dirBytes(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
      val tableBytes = dirBytes(new java.io.File(dir, "data"))
      def fsBytesRead: Long = {
        import scala.jdk.CollectionConverters._
        org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
          .filter(_.getScheme == "file").map(_.getBytesRead).sum
      }
      val before = fsBytesRead
      val sid = IcebergOps.icebergCompact(spark, dir, Seq("lang"),
        maxTuples = 16)
      val delta = fsBytesRead - before
      // one materialized pass (cache build) + footers/commit stats; the
      // old per-tuple shape read the table ~9x here (8 slices + distinct)
      assert(delta <= 4 * tableBytes,
        s"compaction read $delta bytes for a $tableBytes-byte live set - " +
          "per-tuple table re-scans are back")
      assert(IcebergOps.readIcebergSnapshot(spark, dir, sid).count() == 16000L)
    }
  }

  test("compaction dir names escape '_' in values - no tuple collision") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icecmp2_") { dirPath =>
      val dir = dirPath.toString
      // under naive values.mkString("_") BOTH tuples land in dir
      // "pt_B_R" and the second overwrite silently destroys the first
      Seq((1L, "pt", "B_R"), (2L, "pt", "B_R"), (3L, "pt", "B_R"))
        .toDF("id", "c1", "c2").write.parquet(s"$dir/data/t0")
      Seq((4L, "pt_B", "R"), (5L, "pt_B", "R"))
        .toDF("id", "c1", "c2").write.parquet(s"$dir/data/t1")
      IcebergOps.icebergCommitPartitioned(dir, 0, Seq("c1", "c2"),
        Seq("data/t0" -> Seq("pt", "B_R"), "data/t1" -> Seq("pt_B", "R")))
      val sid = IcebergOps.icebergCompact(spark, dir, Seq("c1", "c2"),
        maxTuples = 8)
      val entries = IcebergOps.icebergEntries(dir, sid)._2
      assert(entries.map(_._1).distinct.size == 2,
        s"two tuples must compact into two directories: $entries")
      assert(IcebergOps.readIcebergSnapshot(spark, dir, sid)
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("v2: removing a data file refuses while delete files are live") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icev2rm_") { d2Path =>
      val d2 = d2Path.toString
      def oneFile(rows: Seq[(Long, String)], sub: String): String = {
        rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
          .write.parquet(s"$d2/data/$sub")
        new java.io.File(s"$d2/data/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
      }
      val f0 = oneFile(Seq((1L, "a"), (2L, "b")), "u0")
      val f1 = oneFile(Seq((3L, "c")), "u1")
      IcebergOps.icebergCommitV2(d2, 0, Seq(f0, f1))
      val delRows = spark.read.parquet(f0)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("id"))
        .filter(col("id") === 2L).select(col("file_path"), col("pos"))
      delRows.repartition(1).write.parquet(s"$d2/data/del1")
      val delFile = new java.io.File(s"$d2/data/del1").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted.head
      IcebergOps.icebergCommitV2(d2, 1, adds = Nil,
        deleteFiles = Seq(delFile))
      // the count invariant (sum live record_counts minus delete-tuple
      // counts) only holds while no delete tuple can dangle: a remove of
      // f1 would leave del1's tuples subtracted against retired rows
      val e = intercept[IllegalArgumentException] {
        IcebergOps.icebergCommitV2(d2, 2, adds = Nil, removes = Seq(f1))
      }
      assert(e.getMessage.contains("delete"))
      // and with NO live delete files, removes still work (no over-refusal)
      withTempDir("graft_icev2rm3_") { d3Path =>
        val d3 = d3Path.toString
        def oneFile3(rows: Seq[(Long, String)], sub: String): String = {
          rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
            .write.parquet(s"$d3/data/$sub")
          new java.io.File(s"$d3/data/$sub").listFiles()
            .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
            .sorted.head
        }
        val g0 = oneFile3(Seq((1L, "a")), "u0")
        val g1 = oneFile3(Seq((2L, "b")), "u1")
        IcebergOps.icebergCommitV2(d3, 0, Seq(g0, g1))
        IcebergOps.icebergCommitV2(d3, 1, adds = Nil, removes = Seq(g1))
        assert(IcebergOps.icebergCount(d3, 1) == 1L)
      }
    }
  }

  test("evolved read after expiry refuses loudly, never a bare key miss") {
    withTempDir("graft_iceevexp_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((2L, "b", 0.5)).toDF("id", "v", "s").write.parquet(s"$dir/data/u1")
      IcebergOps.icebergCommitEvolved(dir, 0,
        Seq((1, "id", "long"), (2, "v", "string")), Seq("data/u0"))
      IcebergOps.icebergCommitEvolved(dir, 1,
        Seq((1, "id", "long"), (2, "v", "string"), (3, "s", "double")),
        Seq("data/u1"))
      // evolved read works while both snapshots are recorded
      assert(IcebergOps.readIcebergEvolved(spark, dir, 1).count() == 2L)
      // expire snapshot 0: file u0 stays live (carried) but its add-time
      // snapshot - and with it the schema-id mapping - is gone
      assert(IcebergOps.expireSnapshots(dir, retainLast = 1) == Seq(0L))
      val e = intercept[IllegalArgumentException] {
        IcebergOps.readIcebergEvolved(spark, dir, 1)
      }
      assert(e.getMessage.contains("expired"))
    }
  }

  test("metaTable resolves each snapshot's RECORDED manifest-list name") {
    withTempDir("graft_icemetan_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      IcebergOps.icebergCommit(dir, 0, Seq("data/u0"))
      // rename the manifest list to a conformant library-writer name
      // (snap-<id>-<attempt>-<uuid>.avro) and patch the metadata json -
      // the metadata tables must follow the RECORDED path, not re-derive
      // snap-<id>.avro from the id
      val md = new java.io.File(dir, "metadata")
      val real = "snap-0-1-0f35dcb2-7bbe-4a6c-b711-54b8a1a79b27.avro"
      assert(new java.io.File(md, "snap-0.avro")
        .renameTo(new java.io.File(md, real)))
      val metaFile = new java.io.File(md, "v1.metadata.json")
      val patched = new String(
        java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
        .replace("metadata/snap-0.avro", s"metadata/$real")
      java.nio.file.Files.write(metaFile.toPath, patched.getBytes("UTF-8"))
      val snaps = IcebergOps.metaTable(spark, dir, "snapshots").collect()
      assert(snaps.length == 1 && snaps.head.getString(1).endsWith(real))
      assert(snaps.head.getLong(4) == 2L) // total_records from the fold
      assert(IcebergOps.metaTable(spark, dir, "files").count() == 1L)
    }
  }

  test("compaction escapes '.' — a '..' partition value cannot traverse out") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_icedot_") { dirPath =>
      val dir = dirPath.toString
      // pre-fix, escapePartValue passed '.' through, so this tuple's slice
      // dir resolved to data/compactN/.. == data/ and the overwrite wiped
      // the table's live files
      Seq((1L, "..", "x"), (2L, "..", "y")).toDF("id", "c1", "v")
        .write.parquet(s"$dir/data/t0")
      Seq((3L, "ok", "z")).toDF("id", "c1", "v")
        .write.parquet(s"$dir/data/t1")
      IcebergOps.icebergCommitPartitioned(dir, 0, Seq("c1"),
        Seq("data/t0" -> Seq(".."), "data/t1" -> Seq("ok")))
      val sid = IcebergOps.icebergCompact(spark, dir, Seq("c1"),
        maxTuples = 8)
      // the original live files survive (nothing escaped the compact dir)
      assert(new java.io.File(s"$dir/data/t0").exists() &&
        new java.io.File(s"$dir/data/t1").exists(),
        "compaction must not delete the table's own data files")
      assert(IcebergOps.readIcebergSnapshot(spark, dir, sid)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // the '..' tuple's dir is the fixed-width escape, nested INSIDE
      // the compaction dir
      val entries = IcebergOps.icebergEntries(dir, sid)._2
      assert(entries.exists(_._1 == s"data/compact$sid/%002E%002E"),
        s"expected escaped '..' dir, got ${entries.map(_._1)}")
      // empty partition values refuse loudly instead of naming no dir
      intercept[IllegalArgumentException] {
        IcebergOps.escapePartValue("")
      }
    }
  }

  test("v2 append resolves the prior snapshot's RECORDED manifest-list name") {
    withTempDir("graft_icev2ml_") { dirPath =>
      val dir = dirPath.toString
      def oneFile(rows: Seq[(Long, String)], sub: String): String = {
        rows.toDF("id", "v").repartition(1).sortWithinPartitions("id")
          .write.parquet(s"$dir/data/$sub")
        new java.io.File(s"$dir/data/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.head
      }
      val f0 = oneFile(Seq((1L, "a"), (2L, "b")), "u0")
      IcebergOps.icebergCommitV2(dir, 0, Seq(f0))
      // rename the prior list to a conformant library-writer name and
      // patch the metadata — the append must follow the RECORDED path
      val md = new java.io.File(dir, "metadata")
      val real = "snap-0-1-5d12aa90-13fe-4c02-9e7f-2f60b85c3a11.avro"
      assert(new java.io.File(md, "snap-0.avro")
        .renameTo(new java.io.File(md, real)))
      val metaFile = new java.io.File(md, "v1.metadata.json")
      val patched = new String(
        java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
        .replace("metadata/snap-0.avro", s"metadata/$real")
      java.nio.file.Files.write(metaFile.toPath, patched.getBytes("UTF-8"))
      val f1 = oneFile(Seq((3L, "c")), "u1")
      IcebergOps.icebergCommitV2(dir, 1, Seq(f1))
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 1)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // the appended metadata still records snapshot 0's renamed list, so
      // time travel through the new chain keeps resolving
      assert(IcebergOps.readIcebergSnapshot(spark, dir, 0)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      val v2meta = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(md, "v2.metadata.json").toPath), "UTF-8")
      assert(v2meta.contains(s"metadata/$real"),
        "appended metadata must carry the prior snapshot's recorded list")
    }
  }

  test("evolved append resolves the prior snapshot's RECORDED manifest-list name") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft_iceevml_") { dirPath =>
      val dir = dirPath.toString
      val s0 = Seq((1, "id", "long"), (2, "v", "string"))
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      IcebergOps.icebergCommitEvolved(dir, 0, s0, Seq("data/u0"))
      val md = new java.io.File(dir, "metadata")
      val real = "snap-0-1-77f01c44-90ab-4d6e-8a31-64c17d20cd58.avro"
      assert(new java.io.File(md, "snap-0.avro")
        .renameTo(new java.io.File(md, real)))
      val metaFile = new java.io.File(md, "v1.metadata.json")
      val patched = new String(
        java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
        .replace("metadata/snap-0.avro", s"metadata/$real")
      java.nio.file.Files.write(metaFile.toPath, patched.getBytes("UTF-8"))
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      IcebergOps.icebergCommitEvolved(dir, 1, s0, Seq("data/u1"))
      assert(IcebergOps.readIcebergEvolved(spark, dir, 1)
        .orderBy(col("id")).collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L))
      val v2meta = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(md, "v2.metadata.json").toPath), "UTF-8")
      assert(v2meta.contains(s"metadata/$real"),
        "appended metadata must carry the prior snapshot's recorded list")
    }
  }
}
