package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MULTI-MEMBER ustar ARCHIVE column — the export half of the
  * WebDataset seam ([[graft.ops.WebOps.webdatasetSamples]] is the
  * import half): `tar_build(array<struct<name:string, data:binary>>)`
  * → one tar archive per row, built on the same deterministic ustar
  * header layout as [[TarWalk.packAll]] (mode 0644, uid/gid 0,
  * mtime 0) and padded to the 10240-byte record size — byte-identical
  * to `python tarfile` (`format=USTAR_FORMAT`) for the same entries,
  * pinned in TarBuildSpec against a python-generated fixture and
  * round-tripped through this repo's own `tar_entries` reader.
  *
  * Determinism is the point: a shard written twice from the same rows
  * is the same bytes, so shard-level caching and byte-equality replay
  * checks hold downstream.
  *
  * Refusals are loud (IllegalArgumentException, not null): empty
  * archive, a name over the 100-byte ustar limit or empty or
  * slash-leading, duplicate names, null entries/fields, an archive
  * over [[TarBuild.MaxBytes]] — a sink that silently dropped or
  * renamed a sample would corrupt the training set it feeds.
  *
  * Scale shape: one shard = one row = one self-contained archive of
  * WebDataset size (102–103 MB by convention); shards build
  * independently partition-parallel and the blob never shuffles after
  * construction.
  */
object TarBuild {
  /** `tar_build`'s input: (name, data) members, any field names. */
  val membersType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType), StructField("data", BinaryType))))

  /** 1 GiB — far above the 100–500 MB WebDataset convention; a shard
    * bigger than this is a sharding bug, not a big shard. */
  val MaxBytes: Long = 1L << 30

  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** `tar_build(array<struct<name,data>>)` → binary ustar archive. */
  def build(entries: ArrayData): Array[Byte] = {
    val n = entries.numElements()
    require(n > 0, "tar_build: empty archive (no entries)")
    val seen = scala.collection.mutable.HashSet.empty[String]
    var total = 1024L
    val members = (0 until n).map { i =>
      require(!entries.isNullAt(i), s"tar_build: null entry at $i")
      val e = entries.getStruct(i, 2)
      require(!e.isNullAt(0) && !e.isNullAt(1),
        s"tar_build: null name or data at entry $i")
      val name = e.getUTF8String(0).toString
      val data = e.getBinary(1)
      require(name.nonEmpty && !name.startsWith("/"),
        s"tar_build: invalid entry name '$name'")
      require(seen.add(name), s"tar_build: duplicate entry name '$name'")
      total += 512L + ((data.length + 511L) / 512L) * 512L
      require(total <= MaxBytes,
        s"tar_build: archive exceeds $MaxBytes bytes — shard smaller")
      name -> data
    }
    val body = TarWalk.packAll(members)
    // python tarfile pads the whole archive to RECORDSIZE (20 blocks)
    val tail = body.length % 10240
    if (tail == 0) body
    else java.util.Arrays.copyOf(body, body.length + (10240 - tail))
  }
}
