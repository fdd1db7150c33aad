package graft.core.meta

import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.roaringbitmap.longlong.{Roaring64Bitmap, Roaring64NavigableMap}

/** Deletion-vector files (reference format/spec.md v3 "Deletion Vectors"
  * + format/puffin-spec.md `deletion-vector-v1`;
  * core/src/main/java/org/apache/iceberg/deletes/BaseDVFileWriter.java,
  * core/.../puffin/PuffinWriter.java).
  *
  * Container is a SPEC-SHAPED Puffin file holding one
  * `deletion-vector-v1` blob:
  *   PFA1 | blob | PFA1 footerPayload payloadSize(int32 LE) flags PFA1
  * where the blob is
  *   combinedLen(int32 BE) | D1 D3 39 64 | portable Roaring64 | CRC-32(BE)
  * and the footer JSON records blob offset/length plus the REQUIRED
  * `referenced-data-file` and `cardinality` properties — so any Iceberg
  * v3 reader's Puffin code can consume these DVs byte-for-byte. Two
  * documented deviations from the reference WRITER (not the format):
  * one puffin file per DV (the spec allows many blobs per file; the
  * footer is self-describing either way), and DVs may stack per data
  * file like position-delete files (spec v3 mandates at-most-one per
  * file; readers here union all masks and rewrite_position_deletes
  * re-compacts). Legacy GDV1 containers from older graft tables are
  * still readable.
  *
  * Encrypted tables wrap the whole container in AES GCM Stream (AGS1,
  * gcm-stream-spec.md — the reference encrypts DV/puffin content the
  * same way) under a per-file key DERIVED from the table key
  * (TableCrypto.derivedFileKey).
  */
object DVIO {
  private val LegacyMagic = 0x47445631 // "GDV1" (pre-puffin graft container)
  private val PuffinMagic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39, 0x64)
  /** Iceberg MetadataColumns.ROW_POSITION field id (blob `fields`) */
  private val RowPosFieldId = 2147483645L

  /** a bitmap's positions, ascending (unsigned order; positions are
    * non-negative) */
  def positions(bm: Roaring64Bitmap): Iterator[Long] = {
    val it = bm.getLongIterator
    new Iterator[Long] {
      def hasNext: Boolean = it.hasNext
      def next(): Long = it.next()
    }
  }

  def write(path: String, dataFilePath: String, positions: Iterator[Long],
      crypto: Option[TableCrypto] = None): Long =
    writeBlob(path, dataFilePath, positions, crypto)._1

  /** like write, but also returns the blob's (offset, length) inside the
    * container — recorded in the manifest as the spec's content_offset /
    * content_size_in_bytes (fields 144/145) so readers can seek without
    * re-parsing the footer */
  def writeBlob(path: String, dataFilePath: String, positions: Iterator[Long],
      crypto: Option[TableCrypto] = None): (Long, Long, Long) = {
    val (blob, cardinality) = blobBytesWithCardinality(positions)
    val payload = footerJson(blobOffset = 4L, blobLength = blob.length.toLong,
      dataFilePath, cardinality)
    val payloadBytes = payload.getBytes(StandardCharsets.UTF_8)

    val bos = new java.io.ByteArrayOutputStream(
      8 + blob.length + payloadBytes.length + 16)
    bos.write(PuffinMagic)
    bos.write(blob)
    bos.write(PuffinMagic)
    bos.write(payloadBytes)
    bos.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(payloadBytes.length).array())
    bos.write(Array[Byte](0, 0, 0, 0)) // flags: payload uncompressed
    bos.write(PuffinMagic)
    val plain = bos.toByteArray

    val p = GraftIO.toPath(path)
    Files.createDirectories(p.getParent)
    Files.write(p, crypto match {
      case Some(tc) =>
        val (dek, aad) = tc.derivedFileKey(path)
        AesGcm.encryptStream(plain, dek, aad)
      case None => plain
    })
    (cardinality, 4L, blob.length.toLong)
  }

  /** Spec deletion-vector-v1 blob bytes for a position set: BE length +
    * magic + portable 64-bit roaring (LE internals) + BE CRC-32 of
    * magic+vector. Exposed (with [[parseBlobBytes]]) so golden-file
    * interop tests can check byte-for-byte equality against the
    * `*-position-index.bin` fixtures: the reference's committed ones
    * (core/src/test/resources/org/apache/iceberg/deletes) where a
    * checkout is present, else bundled copies that
    * `tools/spec_fixtures.py` assembles from the format specs. */
  private[graft] def blobBytes(positions: Iterator[Long]): Array[Byte] =
    blobBytesWithCardinality(positions)._1

  private def blobBytesWithCardinality(
      positions: Iterator[Long]): (Array[Byte], Long) = {
    val bm = new Roaring64NavigableMap()
    positions.foreach(bm.addLong)
    bm.runOptimize()
    val vecBos = new java.io.ByteArrayOutputStream()
    bm.serializePortable(new DataOutputStream(vecBos))
    val vec = vecBos.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic)
    crc.update(vec)
    val blob = ByteBuffer.allocate(4 + 4 + vec.length + 4)
      .order(ByteOrder.BIG_ENDIAN)
      .putInt(4 + vec.length).put(DvMagic).put(vec)
      .putInt(crc.getValue.toInt).array()
    (blob, bm.getLongCardinality)
  }

  /** counterpart of [[blobBytes]]: parse standalone blob bytes. */
  private[graft] def parseBlobBytes(bytes: Array[Byte]): Roaring64Bitmap =
    parseDvBlob("(bytes)", bytes, 0, bytes.length)

  private def footerJson(blobOffset: Long, blobLength: Long,
      dataFilePath: String, cardinality: Long): String = {
    val root = MetaJson.mapper.createObjectNode()
    val blobs = root.putArray("blobs")
    val b = blobs.addObject()
    b.put("type", "deletion-vector-v1")
    b.putArray("fields").add(RowPosFieldId)
    b.put("snapshot-id", -1L)      // inherited (puffin-spec: must be -1)
    b.put("sequence-number", -1L)
    b.put("offset", blobOffset)
    b.put("length", blobLength)
    val props = b.putObject("properties")
    props.put("referenced-data-file", dataFilePath)
    props.put("cardinality", cardinality.toString)
    root.putObject("properties").put("created-by", "graft")
    MetaJson.mapper.writeValueAsString(root)
  }

  /** test hook: physical DV container reads in this JVM (the executor
    * cache should make this O(delete files), not O(tasks)) */
  private[graft] val readCount = new java.util.concurrent.atomic.AtomicLong()

  /** (referenced data-file path, deleted positions) */
  def read(path: String, crypto: Option[TableCrypto] = None): (String, Roaring64Bitmap) = {
    readCount.incrementAndGet()
    val raw = Files.readAllBytes(GraftIO.toPath(path))
    val bytes =
      if (AesGcm.isEncrypted(raw)) {
        val tc = crypto.orElse(CryptoRegistry.forContentPath(path)).getOrElse(
          throw new IllegalStateException(
            s"$path is an encrypted DV but no table key is available"))
        val (dek, aad) = tc.derivedFileKey(path)
        AesGcm.decryptStream(raw, dek, aad)
      } else raw
    if (bytes.length >= 4 &&
        ByteBuffer.wrap(bytes, 0, 4).getInt == LegacyMagic) readLegacy(path, bytes)
    else readPuffin(path, bytes)
  }

  private def readPuffin(path: String, bytes: Array[Byte]): (String, Roaring64Bitmap) = {
    require(bytes.length > 20 && bytes.startsWith(PuffinMagic),
      s"not a puffin DV file: $path")
    val n = bytes.length
    require(java.util.Arrays.equals(bytes, n - 4, n,
      PuffinMagic, 0, 4), s"corrupt puffin footer magic: $path")
    val flags = bytes(n - 8)
    require((flags & 1) == 0, s"compressed puffin footer unsupported: $path")
    val payloadSize = ByteBuffer.wrap(bytes, n - 12, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    // 4 (magic) + 4 (footer magic) + 12 (size+flags+magic) = 20 min bytes
    // around the payload; a corrupt size must fail with the file named,
    // not an index error or a multi-GB String allocation
    require(payloadSize > 0 && payloadSize <= n - 20,
      s"corrupt puffin footer payload size $payloadSize in $path")
    val payloadStart = n - 12 - payloadSize
    val footer = MetaJson.mapper.readTree(
      new String(bytes, payloadStart, payloadSize, StandardCharsets.UTF_8))
    val blob = footer.get("blobs").elements()
    var found: (String, Roaring64Bitmap) = null
    while (blob.hasNext && found == null) {
      val b = blob.next()
      if (b.get("type").asText() == "deletion-vector-v1") {
        val off = b.get("offset").asLong()
        val len = b.get("length").asLong()
        // validate as Longs BEFORE the Int narrowing: a corrupt (negative
        // or >2 GB) offset/length must fail with the file named, not as a
        // silent truncation + IndexOutOfBounds from ByteBuffer.wrap.
        // Bounds are phrased subtraction-side so a huge off+len cannot
        // overflow past the check
        require(off >= 4 && len >= 12 &&
          off <= payloadStart && len <= payloadStart - off,
          s"corrupt DV blob offset/length ($off/$len) in $path")
        val ref = b.get("properties").get("referenced-data-file").asText()
        found = (ref, parseDvBlob(path, bytes, off.toInt, len.toInt))
      }
    }
    require(found != null, s"no deletion-vector-v1 blob in $path")
    found
  }

  private def parseDvBlob(path: String, bytes: Array[Byte], off: Int,
      len: Int): Roaring64Bitmap = {
    val buf = ByteBuffer.wrap(bytes, off, len).order(ByteOrder.BIG_ENDIAN)
    val combined = buf.getInt // magic + vector length
    require(combined == len - 8, s"DV blob length mismatch in $path")
    val magic = new Array[Byte](4); buf.get(magic)
    require(java.util.Arrays.equals(magic, DvMagic),
      s"bad DV blob magic in $path")
    val vec = new Array[Byte](combined - 4); buf.get(vec)
    val expectCrc = buf.getInt
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic); crc.update(vec)
    require(crc.getValue.toInt == expectCrc, s"DV blob CRC mismatch in $path")
    val nav = new Roaring64NavigableMap()
    nav.deserializePortable(new DataInputStream(new ByteArrayInputStream(vec)))
    val bm = new Roaring64Bitmap
    nav.forEach((l: Long) => bm.addLong(l))
    bm
  }

  private def readLegacy(path: String, bytes: Array[Byte]): (String, Roaring64Bitmap) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    try {
      require(in.readInt() == LegacyMagic, s"not a graft DV file: $path")
      val len = in.readInt()
      val nameBytes = new Array[Byte](len)
      in.readFully(nameBytes)
      val bm = new Roaring64Bitmap
      bm.deserialize(in)
      (new String(nameBytes, StandardCharsets.UTF_8), bm)
    } finally in.close()
  }

  def isDV(path: String): Boolean =
    path.endsWith(".dv") || path.endsWith(".puffin")
}
