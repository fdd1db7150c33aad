package graft.core.meta

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.expr.ColStats
import graft.core.types._

/** `FileTableOps.currentVersion`: the version hint plus a forward probe
  * must always agree with the highest version file on disk, whatever
  * state the hint is in, and a table with a good hint never lists its
  * metadata directory. */
class FileTableOpsSpec extends AnyFunSuite {

  private val schema = GSchema(GStruct(Seq(
    GField(1, "id", GLong, required = true),
    GField(2, "data", GString))))

  private def tempCatalog(): HadoopCatalog =
    new HadoopCatalog(Files.createTempDirectory("graft-versions").toString)

  private def append(t: GTable, name: String): Unit =
    t.newAppend().appendFile(DataFile(s"${t.location}/data/$name.parquet", "parquet",
      0, Nil, recordCount = 10, fileSizeBytes = 1000,
      columnStats = Map(1 -> ColStats(Some(10L), Some(0L), None, Some(1L), Some(10L)))))
      .commit()

  private def metaDir(t: GTable): Path = Paths.get(t.location, "metadata")
  private def hint(t: GTable): Path = metaDir(t).resolve("version-hint.text")
  private def names(t: GTable): Seq[String] =
    if (!Files.exists(metaDir(t))) Nil
    else {
      val st = Files.list(metaDir(t))
      try st.iterator().asScala.map(_.getFileName.toString).toVector finally st.close()
    }

  private val VersionFile = """v(\d+)\.metadata\.json""".r
  /** the highest version file present: what a full listing finds */
  private def listedMax(t: GTable): Int =
    names(t).collect { case VersionFile(v) => v.toInt }.maxOption.getOrElse(0)

  private def agrees(t: GTable, step: String): Int = {
    val v = t.ops.currentVersion()
    assert(v === listedMax(t), s"after $step")
    v
  }

  test("the hinted lookup matches the listed maximum in every hint state") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t", schema)
    assert(agrees(t, "create") === 1)
    (1 to 40).foreach { i => append(t, s"a$i"); assert(agrees(t, s"append $i") === i + 1) }
    assert(!names(t).exists(_.startsWith(".")), "a temp file was left behind")

    Files.write(hint(t), "1".getBytes("UTF-8"))
    assert(agrees(t, "stale hint") === 41)
    Files.delete(hint(t))
    assert(agrees(t, "deleted hint") === 41)
    Seq("", "  ", "garbage", "-3", "0", "12x").foreach { h =>
      Files.write(hint(t), h.getBytes("UTF-8"))
      agrees(t, s"hint '$h'")
    }
    Files.write(hint(t), "999".getBytes("UTF-8"))
    assert(agrees(t, "hint ahead of the files") === 41)
    // the next commit repairs the hint
    append(t, "repair")
    assert(new String(Files.readAllBytes(hint(t)), "UTF-8") === "42")
    assert(agrees(t, "repaired hint") === 42)
  }

  test("delete-after-commit: expired versions and a hint naming one") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t", schema)
    (1 to 5).foreach(i => append(t, s"a$i"))
    t.updateProperties(Map(
      "write.metadata.delete-after-commit.enabled" -> "true",
      "write.metadata.previous-versions-max" -> "3"))
    (1 to 6).foreach { i => append(t, s"b$i"); agrees(t, s"append $i") }
    val v = agrees(t, "expiry")
    assert(!names(t).contains(s"v${v - 4}.metadata.json"), "nothing was expired")
    Files.write(hint(t), (v - 4).toString.getBytes("UTF-8"))
    assert(agrees(t, "hint on an expired version") === v)
  }

  test("a late hint publish does not move the hint below a newer version") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t", schema)
    (1 to 5).foreach(i => append(t, s"a$i"))
    // versions 3 and 4 gone as delete-after-commit removes them; a writer
    // that won v3 and stalled before its publish now reaches it
    Seq(3, 4).foreach(v => Files.delete(metaDir(t).resolve(s"v$v.metadata.json")))
    val stalled = new FileTableOps(t.location)
    assert(stalled.commit(2, t.refresh()))
    assert(new String(Files.readAllBytes(hint(t)), "UTF-8") === "6")
    assert(agrees(t, "late publish") === 6)
  }

  test("two handles committing alternately each see the other's commit") {
    val cat = tempCatalog()
    cat.createTable(Seq("db"), "t", schema)
    val a = cat.loadTable(Seq("db"), "t").get
    val b = cat.loadTable(Seq("db"), "t").get
    (1 to 6).foreach { i =>
      val (w, r) = if (i % 2 == 0) (a, b) else (b, a)
      append(w, s"f$i")
      assert(agrees(r, s"commit $i") === i + 1)
      assert(r.refresh().currentSnapshot.map(_.snapshotId) ===
        w.meta.currentSnapshot.map(_.snapshotId))
    }
  }

  test("a copied table directory finds its own current version") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "src", schema)
    (1 to 3).foreach(i => append(t, s"a$i"))
    val dstWarehouse = Files.createTempDirectory("graft-versions-copy")
    val src = Paths.get(t.location)
    val dst = dstWarehouse.resolve("db").resolve("dst")
    Files.createDirectories(dst.getParent)
    val st = Files.walk(src)
    try st.iterator().asScala.toVector.foreach { p =>
      Files.copy(p, dst.resolve(src.relativize(p).toString), StandardCopyOption.COPY_ATTRIBUTES)
    } finally st.close()
    val copy = new HadoopCatalog(dstWarehouse.toString).loadTable(Seq("db"), "dst").get
    assert(agrees(copy, "copy") === 4)
    assert(copy.newScan().planFiles().size === 3)
    append(copy, "only-in-copy")
    assert(agrees(copy, "commit to the copy") === 5)
    assert(agrees(t, "source after the copy's commit") === 4)
  }

  test("drop and recreate at the same location starts again at version 1") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t", schema)
    (1 to 4).foreach(i => append(t, s"a$i"))
    assert(cat.dropTable(Seq("db"), "t"))
    assert(agrees(t, "drop") === 0)
    assert(!cat.tableExists(Seq("db"), "t"))
    val again = cat.createTable(Seq("db"), "t", schema)
    assert(agrees(again, "recreate") === 1)
    append(again, "b")
    assert(agrees(again, "append after recreate") === 2)
    assert(again.newScan().planFiles().size === 1)
  }

  test("a table with a hint commits and plans without listing its metadata") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t", schema)
    (1 to 3).foreach(i => append(t, s"a$i"))
    val before = FileTableOps.fallbackListings.get
    append(t, "b")
    assert(t.newScan().planFiles().size === 4)
    assert(FileTableOps.fallbackListings.get - before === 0L,
      "a commit or plan listed the metadata directory")
    Files.delete(hint(t))
    assert(t.ops.currentVersion() === 5)
    assert(FileTableOps.fallbackListings.get - before === 1L)
  }

  test("only v{N}.metadata.json names carry a version") {
    assert(FileTableOps.versionOf("v12.metadata.json") === Some(12))
    assert(FileTableOps.versionOf("v007.metadata.json") === Some(7))
    Seq("v.metadata.json", "v3-0a1b.metadata.json", "xv1.metadata.json",
      "v-1.metadata.json", "v+1.metadata.json", "v1.metadata.json.tmp",
      "v99999999999.metadata.json", "version-hint.text", ".tmp-1")
      .foreach(n => assert(FileTableOps.versionOf(n) === None, n))
  }
}
