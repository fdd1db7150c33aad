package graft.spark

import org.scalatest.funsuite.AnyFunSuite

/** Spec-dialect view-metadata parsing (reference view-spec.md "View
  * Metadata", ViewMetadataParser.java / ViewVersionParser.java):
  * graft must load genuine Apache-Iceberg view metadata documents —
  * representations, Iceberg-typed schemas referenced by schema-id,
  * optional default-catalog — and reject the malformed shapes the
  * reference rejects. Runs against the reference's committed view
  * fixtures when the checkout is present, else against hand-written
  * spec documents of the same names bundled with the tests. */
class IcebergViewMetadataSpec extends AnyFunSuite {

  private def fixture(name: String): String =
    graft.core.SpecFixtures.string(s"org/apache/iceberg/view/$name")

  test("reference fixture: ValidViewMetadata") {
    val json = fixture("ValidViewMetadata.json")
    val v = GraftViewStore.fromJson(json, "eventsview")
    assert(v.viewName === "eventsview") // spec docs carry no name
    assert(v.viewUuid === "fa6506c3-7681-40c8-86dc-e36561f83385")
    assert(v.currentVersionId === 2)
    assert(v.versions.map(_.versionId) === Seq(1, 2))
    assert(v.current.sql === "select 1 id, 'abc' data")
    assert(v.current.catalogName === "some-catalog")
    assert(v.current.namespaceParts === Nil)
    assert(v.current.summary === Map("user" -> "some-user"))
    // Iceberg schema (x,y,z longs) converted to a Spark schema
    assert(v.schema().fieldNames.toSeq === Seq("x", "y", "z"))
    assert(v.schema().fields.forall(
      _.dataType === org.apache.spark.sql.types.LongType))
    assert(v.versionLog === Seq((4353L, 1), (5555L, 2)))
    assert(v.props === Map("some-key" -> "some-value",
      "comment" -> "some-comment"))
  }

  test("reference fixture: invalid documents are rejected") {
    def rejects(name: String): Unit = {
      val e = intercept[Exception](GraftViewStore.fromJson(fixture(name), "v"))
      assert(e.isInstanceOf[IllegalArgumentException], s"$name: $e")
    }
    rejects("ViewMetadataMissingCurrentVersion.json")
    rejects("ViewMetadataInvalidCurrentVersion.json")
    rejects("ViewMetadataMultipleSQLsForDialect.json")
    rejects("ViewMetadataInvalidCurrentSchema.json")
    rejects("ViewMetadataMissingLocation.json")
  }

  test("non-spark-sql representation is used when no spark-sql one exists") {
    val json = """{
      "view-uuid": "00000000-0000-0000-0000-0000000000aa",
      "format-version": 1,
      "location": "/tmp/v",
      "schemas": [{"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "a", "required": true, "type": "int"}]}],
      "current-version-id": 1,
      "versions": [{
        "version-id": 1, "timestamp-ms": 1, "schema-id": 0,
        "summary": {},
        "default-namespace": ["db"],
        "representations": [
          {"type": "sql", "sql": "SELECT a FROM t", "dialect": "trino"}]}],
      "version-log": [{"timestamp-ms": 1, "version-id": 1}]
    }"""
    val v = GraftViewStore.fromJson(json, "tv")
    assert(v.current.sql === "SELECT a FROM t")
    assert(v.current.catalogName === "") // default-catalog absent
    assert(v.current.namespaceParts === Seq("db"))
  }
}
