package graft.core

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions.assert

/** Interop fixtures named after the reference's test resources. `rel` is
  * a path under the reference's core/src/test/resources: its own file
  * when a checkout is present (`GRAFT_REFERENCE_DIR`, by default
  * `../reference` next to this repo), else the copy of the same name bundled
  * under src/test/resources/iceberg-spec (with the `org/apache/iceberg/`
  * package prefix dropped) — hand-written spec documents, and binaries
  * assembled from the format specs by `tools/spec_fixtures.py`. With
  * neither, the calling test fails; it is never canceled. */
object SpecFixtures {
  private val ReferenceResources = Paths.get(
    sys.env.getOrElse("GRAFT_REFERENCE_DIR", "../reference"),
    "core", "src", "test", "resources")

  def bytes(rel: String): Array[Byte] = {
    val p = ReferenceResources.resolve(rel)
    if (Files.isReadable(p)) Files.readAllBytes(p)
    else {
      val bundled = "/iceberg-spec/" + rel.stripPrefix("org/apache/iceberg/")
      val in = getClass.getResourceAsStream(bundled)
      assert(in != null, s"bundled fixture $bundled is missing")
      try in.readAllBytes() finally in.close()
    }
  }

  def string(rel: String): String = new String(bytes(rel), "UTF-8")
}
