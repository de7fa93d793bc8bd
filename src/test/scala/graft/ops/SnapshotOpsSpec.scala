package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** applyChangelog edges the oracle construction doesn't reach: seq
  * ties (lexicographic struct max — deterministic on any engine),
  * delete-only ids, and log-only inserts on an empty base.
  */
class SnapshotOpsSpec extends SparkSuite {
  import spark.implicits._

  private val baseCols = Seq("id", "v")

  test("seq tie resolves by lexicographic payload max, deterministically") {
    val base = Seq((1L, "old")).toDF(baseCols: _*)
    // two upserts with the SAME seq — (seq, op, v) max picks v="zz"
    val log = Seq(
      (1L, 5L, "upsert", "aa"),
      (1L, 5L, "upsert", "zz")).toDF("id", "seq", "op", "v")
    val out = SnapshotOps.applyChangelog(base, log, "id", "seq", "op")
      .collect()
    assert(out.length == 1 && out(0).getString(1) == "zz")
  }

  test("delete beats earlier upsert; later upsert beats delete") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF(baseCols: _*)
    val log = Seq(
      (1L, 1L, "upsert", "a2"), (1L, 2L, "delete", "a2"), // net delete
      (2L, 1L, "delete", "b"), (2L, 2L, "upsert", "b2"),  // net upsert
      (9L, 1L, "upsert", "new")).toDF("id", "seq", "op", "v")
    val out = SnapshotOps.applyChangelog(base, log, "id", "seq", "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((2L, "b2"), (3L, "c"), (9L, "new")))
  }

  test("time travel: scan reads exactly the manifest's units, old versions stay stable") {
    import spark.implicits._
    withTempDir("graft_snap_") { tmp =>
      val dir = tmp.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.parquet(s"$dir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      SnapshotOps.commitManifest(dir, 1, Seq("data/u0", "data/u1"))
      SnapshotOps.commitManifest(dir, 2, Seq("data/u0", "data/u2"))
      // v1 sees u0+u1 only; the u2 append is invisible
      val v1 = SnapshotOps.readVersion(spark, dir, 1)
      assert(v1.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // machine-asserted pruning: the relation's file list is exactly
      // the manifest's units — u2 never appears in the v1 scan
      val files1 = v1.inputFiles.toSeq
      assert(files1.nonEmpty && files1.forall(f =>
        f.contains("data/u0") || f.contains("data/u1")), files1.toString)
      // v2 sees the retirement of u1 and the append of u2
      val v2 = SnapshotOps.readVersion(spark, dir, 2)
      assert(v2.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
      assert(v2.inputFiles.forall(f => !f.contains("data/u1")))
      // a version is immutable: re-commit with a different list refuses
      intercept[IllegalArgumentException] {
        SnapshotOps.commitManifest(dir, 1, Seq("data/u0"))
      }
      // idempotent re-commit of the identical list is fine
      SnapshotOps.commitManifest(dir, 1, Seq("data/u0", "data/u1"))
      // missing version refuses loudly
      intercept[IllegalArgumentException] {
        SnapshotOps.readVersion(spark, dir, 9)
      }
    }
  }

  test("unknown op fails loudly instead of silently tombstoning the id") {
    val base = Seq((1L, "a")).toDF(baseCols: _*)
    val log = Seq((1L, 1L, "Upsert", "a2")).toDF("id", "seq", "op", "v")
    val e = intercept[Exception] {
      SnapshotOps.applyChangelog(base, log, "id", "seq", "op").collect()
    }
    assert(e.getMessage.contains("unknown op") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown op")))
  }

  test("scd2: intervals chain, close on delete, and reopen on re-insert") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF(baseCols: _*)
    val log = Seq(
      (1L, 1L, "upsert", "a2"), (1L, 3L, "upsert", "a3"), // chain
      (2L, 2L, "delete", "b"),                            // close
      (2L, 5L, "upsert", "b2"),                           // reopen
      (4L, 4L, "upsert", "d")                             // late insert
    ).toDF("id", "seq", "op", "v")
    val out = SnapshotOps.scd2History(base, log, "id", "seq", "op")
      .orderBy("id", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "a", 0L, 1L, false), (1L, "a2", 1L, 3L, false),
      (1L, "a3", 3L, -1L, true),
      (2L, "b", 0L, 2L, false), (2L, "b2", 5L, -1L, true),
      (3L, "c", 0L, -1L, true),
      (4L, "d", 4L, -1L, true)))
  }

  test("scd2 current rows are exactly the MERGE compaction's output") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF(baseCols: _*)
    val log = Seq(
      (1L, 1L, "upsert", "a2"), (1L, 2L, "delete", "a2"),
      (2L, 1L, "delete", "b"), (2L, 2L, "upsert", "b2"),
      (3L, 7L, "upsert", "c2"),
      (9L, 3L, "upsert", "new")).toDF("id", "seq", "op", "v")
    val current = SnapshotOps.scd2History(base, log, "id", "seq", "op")
      .where(col("is_current")).select(col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val merged = SnapshotOps.applyChangelog(base, log, "id", "seq", "op")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(current == merged)
  }

  test("scd2 refuses duplicate (id, seq) log entries instead of " +
    "ordering them nondeterministically") {
    val base = Seq((1L, "a")).toDF(baseCols: _*)
    val dup = Seq(
      (1L, 2L, "upsert", "x"),
      (1L, 2L, "upsert", "y")).toDF("id", "seq", "op", "v")
    val e = intercept[Exception] {
      SnapshotOps.scd2History(base, dup, "id", "seq", "op").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("duplicate log entries")), e.toString)
    // distinct seqs for the same id stay fine
    val ok = Seq((1L, 2L, "upsert", "x"), (1L, 3L, "upsert", "y"))
      .toDF("id", "seq", "op", "v")
    assert(SnapshotOps.scd2History(base, ok, "id", "seq", "op")
      .count() == 3)
  }

  test("manifest commit rejects unencodable unit paths") {
    withTempDir("graft_snapq_") { tmp =>
      val dir = tmp.toString
      intercept[IllegalArgumentException] {
        SnapshotOps.commitManifest(dir, 1, Seq("data/u,0"))
      }
      intercept[IllegalArgumentException] {
        SnapshotOps.commitManifest(dir, 1, Seq("data/\"u0\""))
      }
      // nothing half-committed after the refusals
      assert(!new java.io.File(dir, "manifests/v1.json").exists())
    }
  }

  test("delta log: fold, time travel behind a checkpoint, scan list == log state") {
    import spark.implicits._
    withTempDir("graft_delta_") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/data/u0")
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/data/u1")
      Seq((4L, "d")).toDF("id", "v").write.parquet(s"$dir/data/u2")
      SnapshotOps.deltaCommit(dir, 0, Seq("data/u0", "data/u1"))
      SnapshotOps.deltaCommit(dir, 1, adds = Seq("data/u2"),
        removes = Seq("data/u1"))
      SnapshotOps.deltaCheckpoint(spark, dir, 1)
      SnapshotOps.deltaCommit(dir, 2, Seq("data/u1")) // re-add after remove
      // v0 must ignore the v1 checkpoint (time travel behind it)
      assert(SnapshotOps.deltaFiles(spark, dir, 0).toSet ==
        Set("data/u0", "data/u1"))
      // v1 resolves from the checkpoint alone
      assert(SnapshotOps.deltaFiles(spark, dir, 1).toSet ==
        Set("data/u0", "data/u2"))
      // v2 = checkpoint + JSON tail; last action per path wins
      assert(SnapshotOps.deltaFiles(spark, dir, 2).toSet ==
        Set("data/u0", "data/u2", "data/u1"))
      val v1 = SnapshotOps.readDeltaVersion(spark, dir, 1)
      assert(v1.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 4L))
      // machine-asserted: the scan's file list is exactly the log state
      assert(v1.inputFiles.forall(f => !f.contains("data/u1")))
      // a commit is immutable; a divergent re-commit refuses
      intercept[IllegalArgumentException] {
        SnapshotOps.deltaCommit(dir, 2, Seq("data/u0"))
      }
      SnapshotOps.deltaCommit(dir, 2, Seq("data/u1")) // identical: fine
      // missing version refuses loudly
      intercept[IllegalArgumentException] {
        SnapshotOps.deltaFiles(spark, dir, 9)
      }
      // SECOND checkpoint at v2 (written by resolving THROUGH checkpoint 1):
      // reading v1 afterwards must pick checkpoint 1 — the latest ≤ target,
      // never the newer one — and v2 resolves from checkpoint 2
      SnapshotOps.deltaCheckpoint(spark, dir, 2)
      assert(SnapshotOps.deltaFiles(spark, dir, 1).toSet ==
        Set("data/u0", "data/u2"))
      assert(SnapshotOps.readDeltaVersion(spark, dir, 1)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
      assert(SnapshotOps.deltaFiles(spark, dir, 2).toSet ==
        Set("data/u0", "data/u2", "data/u1"))
      // the new checkpoint is spec-conformant: protocol + metaData rows
      // and the full add schema readable by any parquet reader
      val cp2 = spark.read.parquet(
        s"$dir/_delta_log/${"0" * 19}2.checkpoint.parquet")
      assert(cp2.columns.toSet == Set("protocol", "metaData", "add"))
      assert(cp2.where("protocol.minReaderVersion = 1").count() == 1)
      assert(cp2.where("metaData.id is not null").count() == 1)
      assert(cp2.where("add.path is not null")
        .selectExpr("add.partitionValues", "add.size", "add.modificationTime",
          "add.dataChange").count() == 3)

      // a reader-version gate above 1 refuses the whole read
      withTempDir("graft_deltag_") { gatedPath =>
        val gated = gatedPath.toString
        new java.io.File(gated, "_delta_log").mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(gated, "_delta_log",
            "0" * 19 + "0.json"),
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}"""
            .getBytes("UTF-8"))
        intercept[IllegalArgumentException] {
          SnapshotOps.deltaFiles(spark, gated, 0)
        }
        // a checkpoint whose protocol gates reader >= 2 refuses even though
        // the JSON prefix it collapsed is gone (deletion-vector tables etc.)
        withTempDir("graft_deltac_") { cpGatedPath =>
          val cpGated = cpGatedPath.toString
          new java.io.File(cpGated, "_delta_log").mkdirs()
          Seq(("p", """{"minReaderVersion":2,"minWriterVersion":5}"""))
            .toDF("kind", "js")
            .selectExpr("from_json(js, 'struct<minReaderVersion:int," +
              "minWriterVersion:int>') AS protocol")
            .coalesce(1).write.parquet(
              s"$cpGated/_delta_log/${"0" * 19}0.checkpoint.parquet")
          val e2 = intercept[IllegalArgumentException] {
            SnapshotOps.deltaFiles(spark, cpGated, 0)
          }
          assert(e2.getMessage.contains("reader version 2"))
          // and a checkpoint with NO protocol column is non-conformant: refuse
          withTempDir("graft_deltab_") { cpBarePath =>
            val cpBare = cpBarePath.toString
            new java.io.File(cpBare, "_delta_log").mkdirs()
            Seq("data/x").toDF("path").selectExpr("struct(path) AS add")
              .coalesce(1).write.parquet(
                s"$cpBare/_delta_log/${"0" * 19}0.checkpoint.parquet")
            val e3 = intercept[IllegalArgumentException] {
              SnapshotOps.deltaFiles(spark, cpBare, 0)
            }
            assert(e3.getMessage.contains("no protocol column"))
          }
        }
      }
    }
  }

  test("scd2 refuses seq 0 in the log and unknown ops") {
    val base = Seq((1L, "a")).toDF(baseCols: _*)
    val bad1 = Seq((1L, 0L, "upsert", "x")).toDF("id", "seq", "op", "v")
    intercept[Exception] {
      SnapshotOps.scd2History(base, bad1, "id", "seq", "op").collect()
    }
    val bad2 = Seq((1L, 1L, "merge", "x")).toDF("id", "seq", "op", "v")
    intercept[Exception] {
      SnapshotOps.scd2History(base, bad2, "id", "seq", "op").collect()
    }
  }
}
