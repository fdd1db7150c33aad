package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta.{DVIO, Puffin}

/** Byte-level interop against the deletion-vector and Puffin golden
  * files of the reference's test resources:
  *
  *  - `deletes/{empty,small-alternating-values,small-and-large-values,
  *    all-container-types}-position-index.bin` — serialized
  *    deletion-vector-v1 blobs (BE length + magic + portable 64-bit
  *    roaring + BE CRC-32), golden position sets from
  *    TestBitmapPositionDeleteIndex.java:117-177.
  *  - `puffin/v1/{empty,sample-metric-data-{uncompressed,compressed-zstd}}`
  *    — whole Puffin containers, golden expectations from
  *    TestPuffinReader.java:42-143.
  *
  * Each file is read through [[SpecFixtures]]: the Java implementation's
  * own bytes when a reference checkout is present, else the copy bundled
  * under src/test/resources/iceberg-spec, which `tools/spec_fixtures.py`
  * assembles from the format specs alone (no graft or RoaringBitmap
  * writer is involved); with neither, the test fails.
  *
  * Read each fixture with OUR codecs and assert exact content; then
  * re-serialize the same position sets with our writer and assert
  * byte-for-byte equality with the goldens (both sides run-length
  * optimize before the portable roaring serialization, so the canonical
  * encodings must coincide).
  */
class ReferenceBinaryFixtureSpec extends AnyFunSuite {

  private val res = "org/apache/iceberg"
  private def bin(name: String): Array[Byte] =
    SpecFixtures.bytes(s"$res/deletes/$name")

  private val BitmapOffset = 0xFFFFFFFFL + 1L    // 1L << 32
  private val ContainerOffset = Character.MAX_VALUE + 1L // 1L << 16

  private def positions(bytes: Array[Byte]): Set[Long] = {
    val bm = DVIO.parseBlobBytes(bytes)
    val out = Set.newBuilder[Long]
    bm.forEach((l: Long) => out += l)
    out.result()
  }

  test("empty position index golden file") {
    val golden = bin("empty-position-index.bin")
    assert(positions(golden).isEmpty)
    assert(DVIO.blobBytes(Iterator.empty).sameElements(golden))
  }

  test("small alternating values golden file") {
    val golden = bin("small-alternating-values-position-index.bin")
    val expect = Set(1L, 3L, 5L, 7L, 9L)
    assert(positions(golden) == expect)
    assert(DVIO.blobBytes(expect.toSeq.sorted.iterator).sameElements(golden))
  }

  test("small and large values golden file (two 32-bit bitmaps)") {
    val golden = bin("small-and-large-values-position-index.bin")
    val expect = Set(100L, 101L,
      Int.MaxValue + 100L, Int.MaxValue + 101L)
    assert(positions(golden) == expect)
    assert(DVIO.blobBytes(expect.toSeq.sorted.iterator).sameElements(golden))
  }

  test("all container types golden file (array, RLE, bitset containers)") {
    val golden = bin("all-container-types-position-index.bin")
    def pos(bitmap: Long, container: Long, v: Long): Long =
      bitmap * BitmapOffset + container * ContainerOffset + v
    val expect = Set.newBuilder[Long]
    expect += pos(0, 0, 5L) += pos(0, 0, 7L)
    (1L until 1000L).foreach(v => expect += pos(0, 1, v))
    (1L until ContainerOffset - 1L).foreach(v => expect += pos(0, 2, v))
    expect += pos(1, 0, 10L) += pos(1, 0, 20L)
    (10L until 500L).foreach(v => expect += pos(1, 1, v))
    (1L until ContainerOffset - 1L).foreach(v => expect += pos(1, 2, v))
    val want = expect.result()
    assert(positions(golden) == want)
    assert(DVIO.blobBytes(want.toSeq.sorted.iterator).sameElements(golden))
  }

  // Puffin's readers take a path: the fixture's bytes in a temp file
  private def puffin(name: String): String = {
    val tmp = Files.createTempFile("puffin-fixture-", ".bin")
    tmp.toFile.deleteOnExit()
    Files.write(tmp, SpecFixtures.bytes(s"$res/puffin/v1/$name")).toString
  }

  test("empty puffin container golden file") {
    assert(Puffin.read(puffin("empty-puffin-uncompressed.bin")).isEmpty)
    assert(Puffin.readFileProperties(
      puffin("empty-puffin-uncompressed.bin")).isEmpty)
  }

  private def checkMetricData(name: String): Unit = {
    val path = puffin(name)
    assert(Puffin.readFileProperties(path) == Map("created-by" -> "Test 1234"))
    val blobs = Puffin.read(path)
    assert(blobs.map(_.blobType) == Seq("some-blob", "some-other-blob"))
    assert(blobs.map(_.fields) == Seq(Seq(1), Seq(2)))
    assert(new String(blobs(0).payload, "UTF-8") == "abcdefghi")
    assert(new String(blobs(1).payload, "UTF-8") ==
      "some blob \u0000 binary data 🤯 that is not very very " +
        "very very very very long, is it?")
  }

  test("sample metric data, uncompressed blobs") {
    checkMetricData("sample-metric-data-uncompressed.bin")
  }

  test("sample metric data, zstd-compressed blobs") {
    checkMetricData("sample-metric-data-compressed-zstd.bin")
  }
}
