package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta._
import graft.core.transform._
import graft.core.types._

/** Spec-dialect table-metadata parsing (reference
  * TableMetadataParser.java:395-511, SnapshotParser.java:124-205):
  * graft must load genuine Apache-Iceberg metadata.json documents —
  * v1 singular schema / bare partition-spec, operation-in-summary,
  * optional sequence-number, embedded v1 manifests, absent optional
  * sections. The second half runs against the reference's own committed
  * fixture files when the checkout is present, else against hand-written
  * spec documents of the same names bundled with the tests. */
class IcebergMetadataSpec extends AnyFunSuite {

  // -------------------------------------------------- hand-written spec JSON

  test("v2 spec dialect: operation in summary, string sort directions") {
    val json = """{
      "format-version": 2,
      "table-uuid": "9c12d441-03fe-4693-9a96-a0705ddf69c1",
      "location": "/tmp/t",
      "last-sequence-number": 34,
      "last-updated-ms": 1602638573590,
      "last-column-id": 3,
      "current-schema-id": 0,
      "schemas": [{
        "type": "struct", "schema-id": 0,
        "fields": [
          {"id": 1, "name": "x", "required": true, "type": "long"},
          {"id": 2, "name": "y", "required": false, "type": "string"}]}],
      "default-spec-id": 0,
      "partition-specs": [{
        "spec-id": 0,
        "fields": [{"name": "x", "transform": "identity", "source-id": 1, "field-id": 1000}]}],
      "last-partition-id": 1000,
      "default-sort-order-id": 3,
      "sort-orders": [{
        "order-id": 3,
        "fields": [
          {"transform": "identity", "source-id": 2, "direction": "asc", "null-order": "nulls-first"},
          {"transform": "bucket[4]", "source-id": 1, "direction": "desc", "null-order": "nulls-last"}]}],
      "properties": {"k": "v"},
      "current-snapshot-id": 3055729675574597004,
      "snapshots": [
        {"snapshot-id": 3051729675574597004, "timestamp-ms": 1515100955770,
         "sequence-number": 0, "summary": {"operation": "append", "added-data-files": "4"},
         "manifest-list": "/tmp/t/metadata/1.avro"},
        {"snapshot-id": 3055729675574597004,
         "parent-snapshot-id": 3051729675574597004, "timestamp-ms": 1555100955770,
         "sequence-number": 1, "summary": {"operation": "overwrite"},
         "manifest-list": "/tmp/t/metadata/2.avro", "schema-id": 0}],
      "snapshot-log": [
        {"snapshot-id": 3051729675574597004, "timestamp-ms": 1515100955770},
        {"snapshot-id": 3055729675574597004, "timestamp-ms": 1555100955770}],
      "metadata-log": []
    }"""
    val m = MetaJson.readMetadata(json)
    assert(m.formatVersion === 2)
    assert(m.schema.struct.fields.map(_.name) === Seq("x", "y"))
    assert(m.spec.fields.head.transform === IdentityT)
    assert(m.properties === Map("k" -> "v"))
    assert(m.currentSnapshotId === Some(3055729675574597004L))
    val s0 = m.snapshots.head
    assert(s0.operation === "append")
    assert(s0.sequenceNumber === 0L)
    // operation is extracted; the rest of the summary survives
    assert(s0.summary === Map("added-data-files" -> "4"))
    assert(m.currentSnapshot.map(_.operation) === Some("overwrite"))
    val so = m.sortOrders.find(_.orderId == 3).get
    assert(so.fields.map(f => (f.ascending, f.nullsFirst)) ===
      Seq((true, true), (false, false)))
    assert(so.fields(1).transform === BucketT(4))
    // round-trips through graft's own writer too
    val m2 = MetaJson.readMetadata(MetaJson.writeMetadata(m))
    assert(m2.snapshots.map(s => (s.snapshotId, s.operation, s.summary)) ===
      m.snapshots.map(s => (s.snapshotId, s.operation, s.summary)))
    assert(m2.sortOrders === m.sortOrders)
  }

  test("v1 spec dialect: singular schema, bare partition-spec, -1 snapshot") {
    val json = """{
      "format-version": 1,
      "table-uuid": "d20125c8-7284-442c-9aea-15fee620737c",
      "location": "/tmp/t1",
      "last-updated-ms": 1602638573874,
      "last-column-id": 3,
      "schema": {"type": "struct", "fields": [
        {"id": 1, "name": "x", "required": true, "type": "long"},
        {"id": 2, "name": "y", "required": true, "type": "double"},
        {"id": 3, "name": "z", "required": true, "type": "string"}]},
      "partition-spec": [
        {"name": "x", "transform": "identity", "source-id": 1, "field-id": 1000}],
      "properties": {},
      "current-snapshot-id": -1,
      "snapshots": []
    }"""
    val m = MetaJson.readMetadata(json)
    assert(m.formatVersion === 1)
    assert(m.lastSequenceNumber === 0L)
    assert(m.currentSchemaId === 0)
    assert(m.schema.struct.fields.map(_.name) === Seq("x", "y", "z"))
    assert(m.defaultSpecId === 0)
    assert(m.spec.fields === Seq(graft.core.expr.PartitionField(1, 1000, "x", IdentityT)))
    assert(m.lastPartitionId === 1000)
    assert(m.currentSnapshotId === None) // -1 means none
    assert(m.sortOrders === Seq(SortOrder.Unsorted))
    assert(m.refs.isEmpty && m.snapshotLog.isEmpty)
  }

  test("v1 spec without field-ids assigns 1000+position") {
    val json = """{
      "format-version": 1,
      "table-uuid": "00000000-0000-0000-0000-000000000000",
      "location": "/tmp/t2",
      "last-updated-ms": 1,
      "last-column-id": 2,
      "schema": {"type": "struct", "fields": [
        {"id": 1, "name": "a", "required": true, "type": "int"},
        {"id": 2, "name": "ts", "required": false, "type": "timestamptz"}]},
      "partition-spec": [
        {"name": "a", "transform": "identity", "source-id": 1},
        {"name": "ts_day", "transform": "day", "source-id": 2}]
    }"""
    val m = MetaJson.readMetadata(json)
    assert(m.spec.fields.map(_.fieldId) === Seq(1000, 1001))
    assert(m.spec.fields(1).transform === DayT)
    assert(m.properties.isEmpty && m.snapshots.isEmpty)
  }

  test("v1 embedded manifests array becomes an inline manifest list") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inline").toString
    // plant two real (empty JSON-lines) manifests so sizes resolve
    GraftIO.writeString(s"$dir/m1.json", "")
    GraftIO.writeString(s"$dir/m2.json", "")
    val json = s"""{
      "format-version": 1,
      "table-uuid": "00000000-0000-0000-0000-000000000001",
      "location": "$dir",
      "last-updated-ms": 1,
      "last-column-id": 1,
      "schema": {"type": "struct", "fields": [
        {"id": 1, "name": "a", "required": true, "type": "int"}]},
      "partition-spec": [],
      "current-snapshot-id": 7,
      "snapshots": [{
        "snapshot-id": 7, "timestamp-ms": 5,
        "summary": {"operation": "append"},
        "manifests": ["$dir/m1.json", "$dir/m2.json"]}]
    }"""
    val m = MetaJson.readMetadata(json)
    val sn = m.currentSnapshot.get
    assert(sn.operation === "append")
    assert(sn.sequenceNumber === 0L)
    val mfs = ManifestIO.readList(sn.manifestListPath)
    assert(mfs.map(_.path) === Seq(s"$dir/m1.json", s"$dir/m2.json"))
    assert(mfs.forall(_.hasLiveFiles)) // unknown counts keep manifests live
    assert(mfs.forall(_.existingRowsCount == -1L)) // unknown, not zero
  }

  test("snapshot summary without operation defaults to overwrite") {
    val json = """{
      "format-version": 2,
      "table-uuid": "00000000-0000-0000-0000-000000000002",
      "location": "/tmp/t3",
      "last-sequence-number": 1,
      "last-updated-ms": 1,
      "last-column-id": 1,
      "current-schema-id": 0,
      "schemas": [{"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "a", "required": true, "type": "int"}]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id": 0, "fields": []}],
      "last-partition-id": 999,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id": 0, "fields": []}],
      "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "sequence-number": 1,
        "summary": {"spark.app.id": "x"}, "manifest-list": "/tmp/t3/metadata/1.avro"}]
    }"""
    val m = MetaJson.readMetadata(json)
    assert(m.snapshots.head.operation === "overwrite")
  }

  // -------------------------------------------------- reference fixtures

  private def fixture(name: String): String = SpecFixtures.string(name)

  test("reference fixture: TableMetadataV2ValidMinimal") {
    val json = fixture("TableMetadataV2ValidMinimal.json")
    val m = MetaJson.readMetadata(json)
    assert(m.formatVersion === 2)
    assert(m.lastSequenceNumber === 34L)
    assert(m.schema.struct.fields.map(_.name) === Seq("x", "y", "z"))
    assert(m.spec.fields.head.name === "x")
    assert(m.defaultSortOrderId === 3)
    assert(m.currentSnapshotId === None)
  }

  test("reference fixture: TableMetadataV2Valid") {
    val json = fixture("TableMetadataV2Valid.json")
    val m = MetaJson.readMetadata(json)
    assert(m.currentSchemaId === 1)
    assert(m.schemas.size === 2)
    assert(m.schema.identifierFieldIds === Set(1, 2))
    assert(m.currentSnapshotId === Some(3055729675574597004L))
    assert(m.currentSnapshot.get.operation === "append")
    assert(m.currentSnapshot.get.parentId === Some(3051729675574597004L))
    assert(m.currentSnapshot.get.schemaId === Some(1))
    assert(m.snapshotLog.size === 2)
    // manifest-list paths stay absolute (s3 scheme)
    assert(m.currentSnapshot.get.manifestListPath === "s3://a/b/2.avro")
  }

  test("reference fixture: TableMetadataV1Valid") {
    val json = fixture("TableMetadataV1Valid.json")
    val m = MetaJson.readMetadata(json)
    assert(m.formatVersion === 1)
    assert(m.schema.struct.fields.map(_.id) === Seq(1, 2, 3))
    assert(m.spec.fields.map(_.fieldId) === Seq(1000))
    assert(m.currentSnapshotId === None)
    assert(m.snapshots.isEmpty)
  }

  test("reference fixture: TableMetadataV3ValidMinimal") {
    val json = fixture("TableMetadataV3ValidMinimal.json")
    val m = MetaJson.readMetadata(json)
    assert(m.formatVersion === 3)
    assert(m.schemas.nonEmpty)
  }

  test("reference fixture: TableMetadataStatisticsFiles") {
    val json = fixture("TableMetadataStatisticsFiles.json")
    val m = MetaJson.readMetadata(json)
    val sf = m.statistics.head
    assert(sf.path === "s3://a/b/stats.puffin")
    assert(sf.fileSizeBytes === 413L)
    assert(sf.fileFooterSizeBytes === 42L)
    assert(sf.blobMetadata ===
      Seq(StatBlobMeta("ndv", 3055729675574597004L, 1L, Seq(1))))
  }

  test("reference fixture: invalid documents are rejected") {
    // reference TestTableMetadata expectations: unsupported versions and
    // v2 docs missing spec-required sections must fail with a clear
    // error, not be silently guessed at
    def rejects(name: String): Unit = {
      val e = intercept[Exception](MetaJson.readMetadata(fixture(name)))
      assert(e.isInstanceOf[IllegalArgumentException], s"$name: $e")
    }
    rejects("TableMetadataUnsupportedVersion.json")
    rejects("TableMetadataV2MissingSchemas.json")
    rejects("TableMetadataV2MissingPartitionSpecs.json")
    rejects("TableMetadataV2MissingLastPartitionId.json")
    rejects("TableMetadataV2MissingSortOrder.json")
    rejects("TableMetadataV2CurrentSchemaNotFound.json")
    rejects("TableMetadataV1MissingSchemaType.json")
  }

  test("reference fixture: TableMetadataPartitionStatisticsFiles") {
    val json = fixture("TableMetadataPartitionStatisticsFiles.json")
    val m = MetaJson.readMetadata(json)
    assert(m.partitionStatistics.nonEmpty)
    assert(m.partitionStatistics.head.snapshotId > 0)
    assert(m.partitionStatistics.head.fileSizeBytes > 0)
  }
}
