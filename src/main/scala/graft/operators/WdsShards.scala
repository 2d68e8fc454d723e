package graft.operators

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WebDataset-style tar-shard training export — the loader-facing sink
  * of a training-data pipeline. Large-scale training jobs do not read a
  * parquet lake directly: they stream size-bounded POSIX-tar shards
  * whose members group per-sample files by key (the public WebDataset
  * convention: `{key}.txt`, `{key}.cls`, ... stored contiguously,
  * shards named `shard-%06d.tar`). The reference stops at parquet/CSV
  * materialization exports (provider/offline.go's materialization
  * iterators); this closes the last mile to the dataloader.
  *
  * Semantics (deterministic by construction, so an external oracle can
  * re-derive every number):
  *  - each document becomes two tar members, `{doc_id}.txt` (the text,
  *    UTF-8) and `{doc_id}.cls` (the label/lang, UTF-8), in doc_id
  *    order;
  *  - a sample's archived cost is exact tar arithmetic: 512 header
  *    bytes + payload padded to 512 per member;
  *  - shards are cut by DIVISION PACKING over the cumulative archived
  *    cost: a sample whose cumulative start offset is in
  *    [k*targetBytes, (k+1)*targetBytes) lands in shard k. Packing is a
  *    pure function of the corpus + target, independent of
  *    partitioning, and each shard closes within one sample of the
  *    target;
  *  - each shard file ends with the spec's two 512-byte zero blocks, so
  *    file_bytes = sum(member costs) + 1024 — exact, and asserted
  *    against the REAL file size on disk.
  *
  * Scale: the global sample order never moves through one task — the
  * cumulative cost comes from [[FeatureStore.globalRunningSum]]
  * (range-partition + per-partition totals to the driver + broadcast
  * prefix offsets). Shard writing is embarrassingly parallel: one hash
  * exchange on shard_id, then every shard is written AND independently
  * re-parsed inside its own task. At 100 TB with 1 GiB targets that is
  * ~100k shards across the cluster with no driver involvement; the
  * emitted frame is one row per shard (manifest-sized).
  *
  * [[Multimodal.shardPack]] is the PLAN-ONLY half of this story
  * (per-source shard assignment + offsets, no artifact); this operator
  * is the writer end: it cuts over the exact archived cost (headers +
  * padding, not raw payload bytes) and materializes + gates the tar
  * files themselves.
  *
  * The emitted stats come FROM THE PARSED BYTES of the written file
  * (header checksums validated, member names/sizes/order re-read,
  * payload CRCs compared against the source strings), so the formula
  * oracle and the artifact meet only at the tar format — same gate
  * discipline as the hnswlib export ([[HnswExport]]).
  */
object WdsShards {

  /** 512-byte tar block arithmetic: header + payload rounded up. */
  def memberCost(payloadBytes: Long): Long =
    512L + ((payloadBytes + 511L) / 512L) * 512L

  /** Exact archived cost of one (txt, cls) sample. */
  def sampleCost(txtBytes: Long, clsBytes: Long): Long =
    memberCost(txtBytes) + memberCost(clsBytes)

  private def octal(v: Long, width: Int): Array[Byte] = {
    // width-1 octal digits + NUL, the POSIX ustar numeric encoding
    val s = java.lang.Long.toOctalString(v)
    val b = new Array[Byte](width)
    val digits = width - 1
    var i = 0
    while (i < digits - s.length) { b(i) = '0'; i += 1 }
    s.getBytes(StandardCharsets.US_ASCII).copyToArray(b, i)
    b(width - 1) = 0
    b
  }

  /** One POSIX ustar header for a regular file; mtime pinned to 0 so
    * the archive bytes are a pure function of the content.
    */
  private def header(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](512)
    val nameB = name.getBytes(StandardCharsets.US_ASCII)
    require(nameB.length <= 100, s"tar member name too long: $name")
    nameB.copyToArray(h, 0)
    octal(420, 8).copyToArray(h, 100) // mode 0644
    octal(0, 8).copyToArray(h, 108) // uid
    octal(0, 8).copyToArray(h, 116) // gid
    octal(size, 12).copyToArray(h, 124)
    octal(0, 12).copyToArray(h, 136) // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = '0' // typeflag: regular file
    "ustar".getBytes(StandardCharsets.US_ASCII).copyToArray(h, 257)
    h(262) = 0
    h(263) = '0'; h(264) = '0' // version "00"
    octal(0, 8).copyToArray(h, 329) // devmajor
    octal(0, 8).copyToArray(h, 337) // devminor
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    octal(sum, 7).copyToArray(h, 148)
    h(155) = ' '
    h
  }

  private val ZeroBlock = new Array[Byte](512)

  private def pad(out: java.io.OutputStream, payloadBytes: Long): Unit = {
    val rem = (payloadBytes % 512L).toInt
    if (rem != 0) out.write(ZeroBlock, 0, 512 - rem)
  }

  /** Write one shard's samples (already in doc_id order) as a tar file.
    * Returns (payload_bytes, file_bytes as written).
    */
  def writeShard(path: Path, samples: Seq[(Long, String, String)]): (Long, Long) = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    var payload = 0L
    var file = 0L
    try {
      for ((id, txt, cls) <- samples) {
        for ((ext, s) <- Seq(("txt", txt), ("cls", cls))) {
          val b = s.getBytes(StandardCharsets.UTF_8)
          out.write(header(s"$id.$ext", b.length))
          out.write(b)
          pad(out, b.length)
          payload += b.length
          file += memberCost(b.length)
        }
      }
      out.write(ZeroBlock); out.write(ZeroBlock)
      file += 1024L
    } finally out.close()
    (payload, file)
  }

  /** One parsed tar member. */
  final case class Member(name: String, size: Long, crc: Long)

  /** Independent re-parse of a written shard: walks headers, validates
    * every header checksum against the spec's space-filled recompute,
    * and CRCs each payload. Fails loudly on any malformation.
    */
  def parseShard(path: Path): Vector[Member] = {
    val bytes = Files.readAllBytes(path)
    val members = Vector.newBuilder[Member]
    var off = 0
    def blockIsZero(o: Int): Boolean = {
      var i = 0
      while (i < 512) { if (bytes(o + i) != 0) return false; i += 1 }
      true
    }
    while (off + 512 <= bytes.length && !blockIsZero(off)) {
      val stored = new String(bytes, off + 148, 8, StandardCharsets.US_ASCII)
        .replaceAll("[^0-7]", "")
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(off + i) & 0xff)
        i += 1
      }
      require(java.lang.Long.parseLong(stored, 8) == sum,
        s"tar header checksum mismatch at offset $off in $path")
      val nameEnd = {
        var e = off
        while (bytes(e) != 0) e += 1
        e
      }
      val name = new String(bytes, off, nameEnd - off, StandardCharsets.US_ASCII)
      val size = java.lang.Long.parseLong(
        new String(bytes, off + 124, 12, StandardCharsets.US_ASCII)
          .replaceAll("[^0-7]", ""), 8)
      val crc = new CRC32
      crc.update(bytes, off + 512, size.toInt)
      members += Member(name, size, crc.getValue)
      off += memberCost(size).toInt
    }
    require(off + 1024 <= bytes.length && blockIsZero(off) && blockIsZero(off + 512),
      s"missing end-of-archive blocks in $path")
    require(off + 1024 == bytes.length,
      s"trailing garbage after end-of-archive in $path")
    members.result()
  }

  private val statsSchema = StructType(Seq(
    StructField("shard_id", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("payload_bytes", LongType, nullable = false),
    StructField("file_bytes", LongType, nullable = false),
    StructField("min_doc_id", LongType, nullable = false),
    StructField("max_doc_id", LongType, nullable = false),
    StructField("sum_doc_ids", LongType, nullable = false),
    StructField("payload_ok", BooleanType, nullable = false)))

  /** Export `docs` (doc_id, textCol, clsCol) as WebDataset tar shards
    * and return the per-shard manifest with every stat re-derived from
    * the parsed artifact bytes. With `keepDir` (a real deployment
    * points it at shared storage) the shard files land there and stay;
    * without it each shard is a task-local temp file, deleted after its
    * parse.
    */
  def exportStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      clsCol: String,
      targetBytes: Long,
      keepDir: Option[Path] = None): DataFrame = {
    require(targetBytes >= 10240, s"targetBytes too small: $targetBytes")
    val spark = docs.sparkSession
    val sized = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(textCol).as("txt"),
      col(clsCol).as("cls"),
      (lit(1024L)
        + (octet_length(col(textCol)).cast("long") + 511L).divide(512L).cast("long") * 512L
        + (octet_length(col(clsCol)).cast("long") + 511L).divide(512L).cast("long") * 512L)
        .as("tar_bytes"))
    val cum = FeatureStore.globalRunningSum(sized, Seq("doc_id"), "tar_bytes")
      .withColumn("shard_id",
        ((col("running_sum") - col("tar_bytes")) / lit(targetBytes)).cast("long"))
      .select("doc_id", "txt", "cls", "shard_id")
    val keepStr = keepDir.map(_.toString)
    val rows = cum
      .repartition(col("shard_id"))
      .sortWithinPartitions("shard_id", "doc_id")
      .queryExecution.toRdd.mapPartitions { it =>
        // one task may hold several whole shards (hash partitioning);
        // the sort guarantees each arrives contiguously in doc order
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
        var cur = Long.MinValue
        val outRows = scala.collection.mutable.ArrayBuffer.empty[Row]
        def flush(): Unit = if (buf.nonEmpty) {
          val path = keepStr.fold(Files.createTempFile("graft_wds_", ".tar"))(
            Paths.get(_, f"shard-$cur%06d.tar"))
          val (written, parsed, fileBytes) =
            try {
              val (_, written) = writeShard(path, buf.toSeq)
              (written, parseShard(path), Files.size(path))
            } finally if (keepStr.isEmpty) Files.deleteIfExists(path)
          // artifact-vs-source fidelity, checked in-task where the
          // source strings are still at hand: member order, names and
          // payload CRCs must match what we intended to archive
          val crcOf = (s: String) => {
            val c = new CRC32; c.update(s.getBytes(StandardCharsets.UTF_8)); c.getValue
          }
          val expect = buf.flatMap { case (id, txt, cls) =>
            Seq((s"$id.txt", crcOf(txt)), (s"$id.cls", crcOf(cls)))
          }
          val ok = written == fileBytes &&
            parsed.size == expect.size &&
            parsed.zip(expect).forall { case (m, (n, c)) => m.name == n && m.crc == c }
          val parsedPayload = parsed.map(_.size).sum
          outRows += Row(cur, buf.size.toLong, parsedPayload, fileBytes,
            buf.head._1, buf.last._1, buf.map(_._1).sum, ok)
          buf.clear()
        }
        it.foreach { ir =>
          val sid = ir.getLong(3)
          if (sid != cur) { flush(); cur = sid }
          buf += ((ir.getLong(0), ir.getUTF8String(1).toString, ir.getUTF8String(2).toString))
        }
        flush()
        outRows.iterator
      }
    val out = spark.createDataFrame(rows, statsSchema)
    out
  }
}
