package graft.core.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.expr._
import graft.core.types._

/** Local/posix file IO for the metadata tree. The commit primitive is
  * hard-link creation (atomic fail-if-exists), giving compare-and-swap
  * semantics on any posix filesystem; HDFS-style object stores swap in a
  * different TableOps (rename-if-absent / conditional PUT) behind the
  * same interface. */
object GraftIO {
  def toPath(s: String): Path = Paths.get(s.stripPrefix("file:"))

  def writeString(path: String, content: String, gzip: Boolean = false,
      fileKey: Option[(Array[Byte], Array[Byte])] = None): Unit = {
    val p = toPath(path)
    Files.createDirectories(p.getParent)
    val plain = encode(content, gzip)
    Files.write(p, fileKey match {
      // gzip-then-encrypt: the AGS1 layer wraps whatever codec produced
      case Some((dek, aad)) => AesGcm.encryptStream(plain, dek, aad)
      case None             => plain
    })
  }

  /** Binary write with optional AGS1 encryption (Avro manifests carry
    * their own codec, so no gzip layer here). */
  def writeBytes(path: String, content: Array[Byte],
      fileKey: Option[(Array[Byte], Array[Byte])] = None): Unit = {
    val p = toPath(path)
    Files.createDirectories(p.getParent)
    Files.write(p, fileKey match {
      case Some((dek, aad)) => AesGcm.encryptStream(content, dek, aad)
      case None             => content
    })
  }

  def readString(path: String,
      fileKey: Option[(Array[Byte], Array[Byte])] = None,
      expectedLen: Long = -1L): String =
    new String(readBytes(path, fileKey, expectedLen), StandardCharsets.UTF_8)

  /** Reads transparently decrypt (AGS1 magic, when a file key is at
    * hand) and decompress by magic (0x1f 0x8b), so a table can flip
    * `write.metadata.compression-codec` or turn encryption on at any
    * point and mixed plain/gzip/encrypted metadata trees keep reading. */
  def readBytes(path: String,
      fileKey: Option[(Array[Byte], Array[Byte])] = None,
      expectedLen: Long = -1L): Array[Byte] = {
    val raw = Files.readAllBytes(toPath(path))
    val bytes =
      if (AesGcm.isEncrypted(raw)) {
        // gcm-stream-spec "File length": each AGS1 block authenticates
        // independently via its index AAD, so TRUNCATION at a block
        // boundary is undetectable from the stream alone — verify the
        // ciphertext length against a trusted source (the manifest list's
        // ManifestFile.length, itself authenticated by the snapshot DEK)
        if (expectedLen >= 0 && raw.length != expectedLen)
          throw new IllegalStateException(
            s"$path: encrypted file length ${raw.length} != expected " +
              s"$expectedLen — possible truncation/tamper")
        fileKey match {
          case Some((dek, aad)) => AesGcm.decryptStream(raw, dek, aad)
          case None => throw new IllegalStateException(
            s"$path is encrypted (AGS1) but no key was provided — is " +
              "graft.encryption.kms.key-list configured?")
        }
      }
      else raw
    if (bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try in.readAllBytes() finally in.close()
    } else bytes
  }

  private def encode(content: String, gzip: Boolean): Array[Byte] =
    if (!gzip) content.getBytes(StandardCharsets.UTF_8)
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.GZIPOutputStream(bos)
      out.write(content.getBytes(StandardCharsets.UTF_8))
      out.close()
      bos.toByteArray
    }

  /** write.metadata.compression-codec=gzip compresses metadata documents,
    * manifest lists and manifests (reference TableProperties
    * METADATA_COMPRESSION; manifests are natively compressed avro there —
    * ours are JSON, where gzip is the difference between reading
    * hundreds of MB and tens of MB of manifest text per plan at scale) */
  def metadataGzip(props: Map[String, String]): Boolean =
    props.get("write.metadata.compression-codec").exists(_.equalsIgnoreCase("gzip")) &&
      // spec layout: external readers derive the codec from the FILE NAME
      // (reference TableMetadataParser.Codec.fromFileName) and our version
      // files are always v{N}.metadata.json — a gzip'd compat document
      // would be unreadable outside, so compat wins over compression
      !MetaJson.icebergCompat(props)

  def exists(path: String): Boolean = Files.exists(toPath(path))

  /** recursive delete, deepest-first; missing paths are a no-op */
  def deleteTree(path: String): Unit = {
    val p = toPath(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(p)
      val paths = try st.iterator().asScala.toSeq finally st.close()
      paths.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  def size(path: String): Long = Files.size(toPath(path))

  def delete(path: String): Unit = Files.deleteIfExists(toPath(path))

  def list(dir: String): Seq[String] = {
    val p = toPath(dir)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.list(p)
      try st.iterator().asScala.map(_.toString).toSeq finally st.close()
    }
  }

  /** recursive listing of regular files under `dir` */
  def walkFiles(dir: String): Seq[String] = {
    val p = toPath(dir)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toVector
      finally st.close()
    }
  }

  // ---------------------------------------------- v4 relative locations
  // (spec format/spec.md "File Locations in Metadata": any tracked
  // location may be relative, resolved against the table's base
  // location, so a table can be relocated without rewriting metadata.)

  /** table base location for a file living under `{location}/metadata/` */
  def metadataBase(path: String): Option[String] = {
    val i = path.lastIndexOf("/metadata/")
    if (i > 0) Some(path.substring(0, i)) else None
  }

  /** resolve a possibly-relative tracked location against a base */
  def resolve(path: String, base: Option[String]): String =
    if (path.startsWith("/") || path.contains("://")) path
    else base.map(b => s"$b/$path").getOrElse(path)

  /** relativize a tracked location when it lives under the base */
  def relativize(path: String, base: String): String =
    if (path.startsWith(base + "/")) path.substring(base.length + 1) else path

  /** drop a file:/file:// scheme prefix (Spark's _metadata.file_path and
    * some readers qualify paths; stored metadata paths are bare) */
  def stripScheme(p: String): String = p.replaceFirst("^file:(//)?", "")

  /** Relocation-stable matching key for data-file paths referenced
    * INSIDE delete-file content (which stores the writer-time absolute
    * path): scheme-stripped, truncated to the last "/data/" suffix when
    * one exists. The single definition every delete-matching site uses.
    * The read mask (GraftSparkTable.deletedPositions) and
    * rewrite_position_delete_files call one parse (positionsByFile) and
    * one rule; rewrite_data_files reads through the scan, so it applies
    * the read mask itself. */
  def dataSuffix(p: String): String = {
    val s = stripScheme(p)
    val i = s.lastIndexOf("/data/")
    if (i >= 0) s.substring(i) else s
  }

  /** Atomically create `target` with `content`; false if it already
    * exists (CAS failure). */
  def atomicCreate(target: String, content: String, gzip: Boolean = false): Boolean = {
    val t = toPath(target)
    Files.createDirectories(t.getParent)
    val tmp = t.resolveSibling(s".tmp-${UUID.randomUUID}")
    Files.write(tmp, encode(content, gzip))
    try {
      Files.createLink(t, tmp) // atomic, fails if target exists
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Replace `target` with `content` in one rename: a reader sees the old
    * file or the new one, never an empty or partial one. The temp
    * sibling is dot-prefixed, so orphan cleanup never counts it. */
  def atomicReplace(target: String, content: String): Unit = {
    val t = toPath(target)
    val tmp = t.resolveSibling(s".tmp-${UUID.randomUUID}")
    try {
      Files.write(tmp, encode(content, gzip = false))
      Files.move(tmp, t, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}

/** Bounded load-on-miss cache, shared by every thread of the JVM: the
  * metadata parse caches (metadata JSON, manifest lists, manifests,
  * stored UDFs) and the executor cache of parsed delete files and
  * footers. Every value it holds is immutable content under a name that
  * is never rewritten (UUID-suffixed metadata, delete files), so a
  * cached value never goes stale.
  *
  * Eviction is per entry, least recently used first, until the total
  * weight is within `budget`. Each value's weight is computed once on
  * insert and stored beside it: by the constructor's `weigh` (the
  * default weight 1 makes the budget a key count), or by the weigher
  * passed with `get`, so one cache can hold several kinds of value under
  * one budget, each weighed its own way. A value heavier than `entryCap`
  * or than the whole budget is returned but not kept, so one huge read
  * cannot flush the cache. Whole-map clears are wrong here: a stream of
  * small values would evict the few large hot ones every few dozen
  * inserts, and each of those costs a full re-parse (reference
  * CachingCatalog.java; the manifest content cache in ManifestFiles.java
  * is bounded in bytes; SparkExecutorCache.java caps each entry).
  *
  * Loads are single-flight per key. The first thread to miss a key
  * loads it outside the lock; threads that miss the same key meanwhile
  * wait for that load and get its value, or its failure with the
  * original cause. Loads of distinct keys run in parallel. A failed
  * load leaves nothing behind, so the next `get` loads again. An
  * access-ordered map mutates on read, so every map access holds one
  * lock. The bound holds per JVM: the driver and each executor keep one
  * instance each under the same budget. */
private[graft] final class BoundedCache[K, V <: AnyRef](budget: Long,
    weigh: V => Long = (_: V) => 1L, entryCap: Long = Long.MaxValue) {
  private final class Weighted(val value: V, val weight: Long)
  private val m = new java.util.LinkedHashMap[K, Weighted](16, 0.75f, true)
  private val loading =
    new java.util.HashMap[K, java.util.concurrent.CompletableFuture[V]]
  private var total = 0L

  def get(key: K)(load: => V): V = get[V](key, weigh)(load)

  def get[W <: V](key: K, weighW: W => Long)(load: => W): W = {
    var pending: java.util.concurrent.CompletableFuture[V] = null
    var owner = false
    val hit = synchronized {
      val e = m.get(key)
      if (e == null) {
        pending = loading.get(key)
        if (pending == null) {
          pending = new java.util.concurrent.CompletableFuture[V]
          loading.put(key, pending)
          owner = true
        }
      }
      e
    }
    if (hit != null) hit.value.asInstanceOf[W]
    else if (!owner)
      try pending.get().asInstanceOf[W]
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    else try {
      val v = load
      val w = weighW(v)
      synchronized {
        loading.remove(key)
        if (w <= budget && w <= entryCap) {
          val old = m.put(key, new Weighted(v, w))
          total += w - (if (old == null) 0L else old.weight)
          val it = m.values.iterator
          while (total > budget) { total -= it.next().weight; it.remove() }
        }
      }
      pending.complete(v)
      v
    } catch {
      case e: Throwable =>
        synchronized(loading.remove(key, pending))
        pending.completeExceptionally(e)
        throw e
    }
  }

  /** total weight held; never above `budget` outside `get` */
  private[graft] def weight: Long = synchronized(total)
}

/** Versioned metadata pointer with optimistic-concurrency commit
  * (reference core/.../TableOperations): implementations differ only in
  * where the current-version pointer lives and how it is swapped —
  * file-link CAS (Hadoop-style) or a database row (JDBC-style). */
trait TableOps {
  def location: String
  protected def metadataDir: String = s"$location/metadata"

  /** 0 when the table does not exist. */
  def currentVersion(): Int
  def current(): Option[TableMetadata]
  /** CAS: commit `updated` as version baseVersion+1. */
  def commit(baseVersion: Int, updated: TableMetadata): Boolean
  /** Where the current metadata document lives, when the backend stores
    * one (file + JDBC pointer catalogs); feeds metadata_log_entries. */
  def currentMetadataPath: Option[String] = None

  def newManifestPath(ext: String = "json"): String =
    s"$metadataDir/manifest-${UUID.randomUUID}.$ext"
  def newManifestListPath(snapshotId: Long, ext: String = "json"): String =
    s"$metadataDir/snap-$snapshotId-${UUID.randomUUID}.$ext"
}

/** File-based pointer (reference HadoopTableOperations): version N IS the
  * file v{N}.metadata.json; CAS = atomic create-if-absent of version N+1.
  *
  * Finding the current version costs O(1) in the size of `metadata/`,
  * as in the reference's `HadoopTableOperations.findVersion`/`refresh`:
  * read `version-hint.text`, and if `v{hint}` exists step forward while
  * `v{N+1}` exists. The hint is advisory. Each commit publishes it after
  * its CAS (by atomic rename), so it may lag behind by the commits whose
  * hint write has not landed yet; versions are created one at a time
  * above an existing base, so each missed commit costs one extra stat.
  * A commit never moves the hint below a newer version that exists, so a
  * stalled writer cannot leave it pointing under versions that
  * delete-after-commit has since removed.
  * Only a hint that is missing, unparsable or names a version file that
  * does not exist (dropped and recreated table, expired metadata, hint
  * ahead of the files) falls back to listing `metadata/` for the highest
  * `v{N}.metadata.json`. Nothing is cached in memory: every call reads
  * the files, so drop-and-recreate and relocation behave as listing did. */
final class FileTableOps(val location: String) extends TableOps {
  private def versionFile(v: Int) = s"$metadataDir/v$v.metadata.json"
  private def hintFile = s"$metadataDir/version-hint.text"

  def currentVersion(): Int =
    readHint().filter(v => GraftIO.exists(versionFile(v))) match {
      case Some(hint) =>
        var v = hint
        while (GraftIO.exists(versionFile(v + 1))) v += 1
        v
      case None =>
        FileTableOps.fallbackListings.incrementAndGet()
        GraftIO.list(metadataDir).iterator
          .flatMap(p => FileTableOps.versionOf(p.substring(p.lastIndexOf('/') + 1)))
          .maxOption.getOrElse(0)
    }

  /** the hinted version; None for a missing, partial or garbage hint */
  private def readHint(): Option[Int] =
    try GraftIO.readString(hintFile).trim.toIntOption.filter(_ > 0)
    catch { case NonFatal(_) => None }

  def current(): Option[TableMetadata] = {
    val v = currentVersion()
    if (v == 0) None else Some(read(v))
  }

  override def currentMetadataPath: Option[String] = {
    val v = currentVersion()
    if (v == 0) None else Some(versionFile(v))
  }

  // v{N}.metadata.json paths are predictable (a dropped + recreated
  // table reuses them), so guard the parse cache with a stat: same
  // (size, mtime) ⇒ same content on any posix filesystem we target
  private def read(v: Int): TableMetadata = {
    val path = versionFile(v)
    val attrs = Files.readAttributes(GraftIO.toPath(path),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = s"$path#${attrs.size}#${attrs.lastModifiedTime.toMillis}"
    FileTableOps.metaCache.get(key)(
      MetaJson.readMetadata(GraftIO.readString(path), Some(path)))
  }

  def commit(baseVersion: Int, updated: TableMetadata): Boolean = {
    // CAS sanity: committing against base N requires N to still be
    // present AT THIS LOCATION. After a rename moved the directory away,
    // the old path is empty — without this check a straggling writer
    // that planned before the move would recreate the old directory as a
    // zombie table and its commit would silently vanish from the renamed
    // table (the current and recent version files are never deleted in
    // place, so an absent base always means drop or move, both of which
    // must fail the CAS).
    if (baseVersion > 0 && !GraftIO.exists(versionFile(baseVersion)))
      return false
    // spec metadata-log: the superseded file becomes a previous-metadata
    // entry, trimmed to write.metadata.previous-versions-max
    val (toWrite, expired) =
      if (baseVersion == 0) (updated, Nil)
      else {
        // under delete-after-commit a concurrent winner may remove the
        // base document between the exists() probe and this read — that
        // is a lost CAS, not an error: report failure so the caller
        // refreshes and retries. Any other failure (a corrupt document,
        // a wrong key) is not a conflict, and retrying cannot fix it.
        val base =
          try read(baseVersion)
          catch { case _: java.nio.file.NoSuchFileException => return false }
        MetadataLogs.advance(base, versionFile(baseVersion), updated)
      }
    val ok = GraftIO.atomicCreate(versionFile(baseVersion + 1),
      MetaJson.writeMetadata(toWrite), GraftIO.metadataGzip(toWrite.properties))
    if (ok) { // best-effort: the CAS already succeeded
      val next = baseVersion + 1
      // a writer that stalled between its CAS and this point must not
      // move the hint back below a newer version that exists
      try if (readHint().forall(h => h < next || !GraftIO.exists(versionFile(h))))
        GraftIO.atomicReplace(hintFile, next.toString)
      catch { case NonFatal(_) => () }
      expired.foreach(p => try GraftIO.delete(p) catch { case NonFatal(_) => () })
    }
    ok
  }
}

/** spec `metadata-log` maintenance, shared by the pointer-commit impls:
  * append the superseded metadata file (stamped with the time it became
  * current), trim to `write.metadata.previous-versions-max` (default
  * 100), and — only when `write.metadata.delete-after-commit.enabled` —
  * hand back the files that fell off the log for deletion AFTER the CAS
  * succeeds (reference TableMetadata.addPreviousFile +
  * BaseMetastoreTableOperations.deleteRemovedMetadataFiles). Without the
  * trim a long-lived table accumulates one metadata file per commit
  * forever — millions of files at streaming commit rates. */
object MetadataLogs {
  val MaxKey = "write.metadata.previous-versions-max"
  val DeleteKey = "write.metadata.delete-after-commit.enabled"

  def advance(base: TableMetadata, baseFile: String,
      updated: TableMetadata): (TableMetadata, Seq[String]) = {
    val appended = base.metadataLog :+ ((base.lastUpdatedMs, baseFile))
    val max = updated.properties.get(MaxKey).flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(100)
    val trimmed = appended.takeRight(max)
    val dropped = appended.take(appended.size - trimmed.size).map(_._2)
    val withLog = updated.copy(metadataLog = trimmed)
    if (updated.properties.get(DeleteKey).contains("true")) (withLog, dropped)
    else (withLog, Nil)
  }
}

object FileTableOps {
  /** parsed table metadata, stat-guard-keyed (shared across handles) */
  private[meta] val metaCache = new BoundedCache[String, TableMetadata](256)
  /** lookups that listed `metadata/` because the hint was unusable */
  private[meta] val fallbackListings = new java.util.concurrent.atomic.AtomicLong

  /** N for a file named `v{N}.metadata.json`, else None */
  private[meta] def versionOf(name: String): Option[Int] =
    if (!name.startsWith("v") || !name.endsWith(".metadata.json")) None
    else {
      val digits = name.substring(1, name.length - ".metadata.json".length)
      if (digits.nonEmpty && digits.forall(c => c >= '0' && c <= '9')) digits.toIntOption
      else None
    }
}

/** Read-only ops view presenting a historical schema as current: a
  * time-travel handle pinned to snapshot S reads with S's recorded
  * schema-id (spec: snapshots carry `schema-id`), so a later REPLACE
  * TABLE or column drop never re-shapes historical reads. */
final class SchemaPinnedOps(real: TableOps, schemaId: Int) extends TableOps {
  def location: String = real.location
  def currentVersion(): Int = real.currentVersion()
  def current(): Option[TableMetadata] = real.current().map { m =>
    if (m.schemas.exists(_.schemaId == schemaId)) m.copy(currentSchemaId = schemaId)
    else m
  }
  def commit(baseVersion: Int, updated: TableMetadata): Boolean =
    throw new UnsupportedOperationException("cannot write through a time-travel handle")
}

/** In-memory table operations backing a transaction or a staged CTAS/RTAS
  * (reference core/.../BaseTransaction.java TransactionTableOperations):
  * every commit mutates a buffered metadata value; nothing touches the
  * real current-version pointer until the owner publishes the final
  * buffered state in ONE CAS against the real ops. Data files and
  * manifests ARE written to their final paths during staging (they are
  * UUID-named and unreachable until the pointer moves), so publishing is
  * pointer-swap-cheap and aborting leaves the table untouched. */
final class StagedOps(val real: TableOps, initial: TableMetadata) extends TableOps {
  def location: String = real.location
  @volatile private var version = 1
  @volatile private var staged: TableMetadata = initial

  /** metadata as staged so far (what a publish would make current) */
  def current(): Option[TableMetadata] = Some(staged)
  def currentVersion(): Int = version
  def stagedMeta: TableMetadata = staged

  def commit(baseVersion: Int, updated: TableMetadata): Boolean = synchronized {
    if (baseVersion != version) false
    else { staged = updated; version += 1; true }
  }

  /** The REAL table's metadata when staging began (None for a fresh
    * create) — what a rebase-on-conflict publish diffs against. Distinct
    * from `initial`, which is the staging SEED (e.g. buildReplacement
    * output) and already contains staged-minted schema/spec ids. */
  val preBase: Option[TableMetadata] = real.current()

  /** Snapshots staged here that the initial base did not have (their files
    * are the ones an abort should best-effort clean up). */
  def stagedSnapshots: Seq[Snapshot] =
    staged.snapshots.filterNot(s => initial.snapshots.exists(_.snapshotId == s.snapshotId))

  /** Best-effort removal of files written while staging: added data files,
    * manifests, and manifest lists of staged snapshots. Never throws — an
    * abort must always leave the real table pointer untouched, and any
    * stragglers are ordinary orphans for remove_orphan_files. */
  def cleanupStagedFiles(): Unit = {
    // Artifacts of the INITIAL (real) table must survive an abort: a
    // staged append's manifest list embeds the parent snapshot's
    // manifests, and a staged commit may reference pre-existing external
    // files (add_files-style imports, transaction bodies appending staged
    // parquet). Only what the staging itself created is deleted —
    // manifests not reachable from the initial metadata, and added data
    // files under this table's own data/ directory.
    val keepManifests: Set[String] = initial.snapshots.flatMap(s =>
      try ManifestIO.readList(s.manifestListPath).map(_.path)
      catch { case _: Throwable => Nil }).toSet
    val dataPrefix = location.stripSuffix("/") + "/data/"
    stagedSnapshots.foreach { s =>
      try {
        val manifests = ManifestIO.readList(s.manifestListPath)
        manifests.filterNot(m => keepManifests.contains(m.path)).foreach { m =>
          try ManifestIO.readEntries(m)
            .filter(e => e.status == ManifestEntryStatus.Added &&
              e.file.path.startsWith(dataPrefix))
            .foreach(e => try GraftIO.delete(e.file.path) catch { case _: Throwable => () })
          catch { case _: Throwable => () }
          try GraftIO.delete(m.path) catch { case _: Throwable => () }
        }
        GraftIO.delete(s.manifestListPath)
      } catch { case _: Throwable => () }
    }
  }
}

/** Manifest read/write (JSON-lines of entries; summaries computed on
  * write for manifest-list pruning). */
object ManifestIO {
  // manifest lists and manifests are UUID-named and immutable: plain
  // path-keyed parse caches are safe on driver and executors alike
  private val listCache = new BoundedCache[String, Seq[ManifestFile]](256)

  /** Parsed manifests, weighted by their entry count. A parsed
    * `ManifestEntry` of a two-column table with one stats column
    * measured about 500 B of heap on a 64-bit HotSpot JVM with
    * compressed oops (90k entries: 44.6 MB live, from 27.9 MB of JSON), so 200k entries is about 100 MB — the reference's
    * default manifest cache size (`io.manifest.cache.max-total-bytes`).
    * Wider tables carry more stats per entry and cost more per entry. */
  private val EntryBudget = 200000L
  private val entryCache =
    new BoundedCache[String, Seq[ManifestEntry]](EntryBudget, _.size.toLong)
  /** manifests parsed since start (cache misses of `readEntries`) */
  private[meta] val entryParses = new java.util.concurrent.atomic.AtomicLong

  /** `write.manifests.format=avro` — or the blanket
    * `compatibility.format=iceberg` — makes every manifest and manifest
    * list this table writes spec-Avro, consumable by external Iceberg
    * readers; readers sniff per file, so flipping the property mid-life
    * leaves a perfectly readable mixed tree. */
  def avroEnabled(props: Map[String, String]): Boolean =
    props.get("write.manifests.format") match {
      case Some(f) => f.equalsIgnoreCase("avro")
      case None    => MetaJson.icebergCompat(props)
    }

  def fileExt(props: Map[String, String]): String =
    if (avroEnabled(props)) "avro" else "json"

  /** Structural size estimate of one serialized manifest entry, for
    * rolling manifests at `commit.manifest.target-size-bytes` (reference
    * RollingManifestWriter.java checks writer.length() per row; graft's
    * JSON-lines writer serializes whole files, so rolling decides on an
    * estimate — granularity of the split, not a format length, is what
    * matters, and being off by 2× just shifts the roll point). */
  def estimateEntrySize(e: ManifestEntry): Long = {
    val f = e.file
    140L + f.path.length + 20L * f.partition.size +
      100L * (f.columnStats.size + f.shredStats.size) +
      8L * f.equalityIds.size +
      f.referencedDataFile.map(_.length + 32L).getOrElse(0L)
  }

  /** Greedy split of an entry set at the target manifest size: a
    * million-file import/compaction emits parallel-readable,
    * list-prunable manifests instead of one monolith. Single chunk when
    * everything fits (the common case — zero behavior change). */
  def chunkByTarget(entries: Seq[ManifestEntry], target: Long): Seq[Seq[ManifestEntry]] = {
    if (entries.isEmpty) return Nil // never emit an empty manifest
    if (entries.size == 1) return Seq(entries)
    val chunks = Seq.newBuilder[Seq[ManifestEntry]]
    val cur = Seq.newBuilder[ManifestEntry]
    var n = 0
    var w = 0L
    entries.foreach { e =>
      val s = estimateEntrySize(e)
      if (n > 0 && w + s > target) {
        chunks += cur.result(); cur.clear(); n = 0; w = 0L
      }
      cur += e; n += 1; w += s
    }
    if (n > 0) chunks += cur.result()
    chunks.result()
  }

  /** spec id → partition field types under the current schema, for
    * Appendix-D-encoding Avro manifest-list summary bounds (callers
    * Try-wrap: a spec whose source column was since dropped yields no
    * types and that manifest simply isn't pruned) */
  def partTypesOf(base: TableMetadata): Int => Seq[graft.core.types.GType] =
    id => base.specById(id).partitionType(base.schema).fields.map(_.tpe)

  def write(path: String, entries: Seq[ManifestEntry], specId: Int, content: Int,
      spec: PartitionSpec, schema: GSchema, snapshotId: Long,
      gzip: Boolean = false, crypto: Option[TableCrypto] = None,
      avro: Boolean = false, formatVersion: Int = 2): ManifestFile = {
    // v4 relative locations: data-file paths under the table location
    // store relative (the manifest lives in {location}/metadata/, so the
    // base is recoverable at read time); foreign paths stay absolute
    val base = GraftIO.metadataBase(path)
    // freshly added files were written under the CURRENT schema: stamp it
    // so name-resolved readers keep working after the snapshot expires.
    // Carried (Existing) entries keep their stored value — or None for
    // pre-r9 manifests, which falls back to the snapshot lookup.
    def stamp(e: ManifestEntry): ManifestEntry =
      if (e.writeSchemaId.isEmpty && e.status == ManifestEntryStatus.Added &&
        e.snapshotId == snapshotId)
        e.copy(writeSchemaId = Some(schema.schemaId))
      else e
    def store(e0: ManifestEntry): ManifestEntry = {
      val e = stamp(e0)
      base match {
        case Some(b) =>
          e.copy(file = e.file.copy(
            path = GraftIO.relativize(e.file.path, b),
            referencedDataFile = e.file.referencedDataFile
              .map(GraftIO.relativize(_, b))))
        case _ => e
      }
    }
    // encrypted tables: every manifest gets a fresh DEK+AAD wrapped by
    // the table key; the wrapped form rides in the manifest-list entry
    // (spec manifest_file.key_metadata)
    val fileKey = crypto.map(_.newFileKey())
    val partType = spec.partitionType(schema)
    // spec Avro can only express single-spec, full-arity manifests (the
    // partition record's shape IS the spec); mixed-spec regroupings and
    // short global-delete tuples fall back to JSON-lines for that one
    // manifest — readers sniff per file, so mixed trees read fine
    val avroOk = avro && entries.forall(e =>
      e.file.specId == specId &&
        e.file.partition.length == partType.fields.length)
    if (avroOk) {
      // spec files store full paths — no v4 relativization, so external
      // Iceberg readers can consume the manifest as-is
      val bytes = AvroManifests.writeManifest(entries.map(stamp), spec,
        schema, content, formatVersion)
      GraftIO.writeBytes(path, bytes, fileKey.map(k => (k._2, k._3)))
    } else {
      val sb = new StringBuilder
      entries.foreach { e => sb.append(MetaJson.writeEntry(store(e))).append('\n') }
      GraftIO.writeString(path, sb.toString, gzip, fileKey.map(k => (k._2, k._3)))
    }
    // no registry park here: manifest DEKs are re-unwrapped from the
    // manifest-list entry's key_metadata at read time (readEntries) — the
    // registry's fileKeys serve only manifest LISTS, whose DEKs live in
    // snapshot records
    // Summaries are only sound when EVERY live entry was written under
    // THIS spec: a shorter tuple (global position deletes under a
    // partitioned spec) can't contribute bounds, and a same-arity tuple
    // from a DIFFERENT spec (mixed-spec manifests after
    // rewrite_manifests on an evolved table) would contribute bounds
    // with the wrong meaning — e.g. bucket ordinals summarized as
    // identity values, silently mis-pruning. Emit no summaries in either
    // case so the manifest is never pruned (conservative).
    val liveEntries = entries.filter(_.isLive)
    val summaries =
      if (liveEntries.exists(e =>
        e.file.partition.length < partType.fields.length ||
          e.file.specId != specId)) Nil
      else partType.fields.zipWithIndex.map { case (pf, i) =>
      val vals = liveEntries.map(_.file.partition(i))
      val nonNull = vals.filter(_ != null)
      FieldSummary(
        containsNull = vals.exists(_ == null),
        containsNan = nonNull.exists {
          case d: Double => d.isNaN
          case f: Float  => f.isNaN
          case _         => false
        },
        lower = nonNull.reduceOption((a, b) =>
          if (TypeComparators.compare(pf.tpe, a, b) <= 0) a else b),
        upper = nonNull.reduceOption((a, b) =>
          if (TypeComparators.compare(pf.tpe, a, b) >= 0) a else b))
    }
    ManifestFile(path, GraftIO.size(path), specId, content,
      keyMetadata = fileKey.map(_._1),
      addedSnapshotId = snapshotId,
      minSequenceNumber = entries.map(_.dataSequenceNumber).minOption.getOrElse(0L),
      addedFilesCount = entries.count(_.status == ManifestEntryStatus.Added),
      existingFilesCount = entries.count(_.status == ManifestEntryStatus.Existing),
      deletedFilesCount = entries.count(_.status == ManifestEntryStatus.Deleted),
      addedRowsCount = liveEntries.filter(_.status == ManifestEntryStatus.Added)
        .map(_.file.recordCount).sum,
      partitionSummaries = summaries,
      existingRowsCount = entries.filter(_.status == ManifestEntryStatus.Existing)
        .map(_.file.recordCount).sum,
      deletedRowsCount = entries.filter(_.status == ManifestEntryStatus.Deleted)
        .map(_.file.recordCount).sum,
      // spec list field 515: the sequence this manifest was added — for a
      // fresh manifest, the max sequence among its Added entries
      sequenceNumber = entries.filter(_.status == ManifestEntryStatus.Added)
        .map(_.dataSequenceNumber).maxOption)
  }

  def readEntries(m: ManifestFile,
      crypto: Option[TableCrypto] = None): Seq[ManifestEntry] =
    entryCache.get(m.path) {
      entryParses.incrementAndGet()
      val base = GraftIO.metadataBase(m.path)
      // encrypted manifests carry their wrapped DEK in the list entry;
      // unwrap with the table key (explicit on executors, registry-
      // resolved on the driver)
      val fileKey = m.keyMetadata.map { km =>
        crypto.orElse(CryptoRegistry.forPath(m.path)).getOrElse(
          throw new IllegalStateException(
            s"manifest ${m.path} is encrypted but no table key is available"))
          .fileKey(km)
      }
      val bytes = GraftIO.readBytes(m.path, fileKey,
        expectedLen = if (fileKey.isDefined) m.length else -1L)
      val parsed =
        if (AvroManifests.isAvro(bytes)) AvroManifests.readEntries(bytes, m)
        else new String(bytes, StandardCharsets.UTF_8)
          .linesIterator.filter(_.nonEmpty)
          .map(MetaJson.readEntry).toSeq
      parsed.map(e => e.copy(file = e.file.copy(
        path = GraftIO.resolve(e.file.path, base),
        referencedDataFile = e.file.referencedDataFile
          .map(GraftIO.resolve(_, base)))))
    }

  /** Writes the manifest list; for encrypted tables returns the list's
    * wrapped DEK+AAD, which the caller records on the snapshot (spec v3:
    * "the encryption key used for a snapshot is specified by key-id").
    * `partTypes` (spec id → partition field types) is only consulted for
    * Avro lists, to Appendix-D-encode the summary bounds. */
  def writeList(path: String, manifests: Seq[ManifestFile],
      gzip: Boolean = false, crypto: Option[TableCrypto] = None,
      avro: Boolean = false, formatVersion: Int = 2,
      partTypes: Int => Seq[graft.core.types.GType] = _ => Nil): Option[String] = {
    val fileKey = crypto.map(_.newFileKey())
    if (avro) {
      // spec files store full paths (no v4 relativization): external
      // Iceberg readers resolve nothing
      val bytes = AvroManifests.writeList(manifests, formatVersion, partTypes)
      GraftIO.writeBytes(path, bytes, fileKey.map(k => (k._2, k._3)))
    } else {
      val base = GraftIO.metadataBase(path)
      def store(m: ManifestFile): ManifestFile = base match {
        case Some(b) => m.copy(path = GraftIO.relativize(m.path, b))
        case None    => m
      }
      val arr = MetaJson.mapper.createArrayNode()
      manifests.foreach(m => arr.add(MetaJson.writeManifestFile(store(m))))
      GraftIO.writeString(path, MetaJson.mapper.writeValueAsString(arr), gzip,
        fileKey.map(k => (k._2, k._3)))
    }
    fileKey.foreach(k => CryptoRegistry.putFileKey(path, (k._2, k._3)))
    fileKey.map(_._1)
  }

  /** Synthetic manifest-list "path" for v1 snapshots that embed their
    * manifests directly in table metadata (spec v1 `manifests` array;
    * reference SnapshotParser.java:179-192): readList expands it by
    * stat-ing each manifest. Counts are unknown (1/1/0 keeps the
    * manifest live; -1 existing rows = unknown, same convention as
    * pre-field JSON lists); the Avro header's partition-spec-id
    * overrides the placeholder spec id at entry-read time. */
  def inlineList(manifestPaths: Seq[String]): String =
    "inline:" + MetaJson.mapper.writeValueAsString(
      manifestPaths.foldLeft(MetaJson.mapper.createArrayNode())((a, p) => { a.add(p); a }))

  /** the sentinel's embedded manifest paths, when `path` is one —
    * metadata WRITERS must serialize these back as the v1 `manifests`
    * array (the sentinel is an in-memory form only; persisted, a later
    * read would re-root it as a relative path) */
  def inlinePaths(path: String): Option[Seq[String]] =
    if (!path.startsWith("inline:")) None
    else Some {
      val arr = MetaJson.mapper.readTree(path.stripPrefix("inline:"))
      val b = Seq.newBuilder[String]
      arr.elements().forEachRemaining(p => b += p.asText())
      b.result()
    }

  /** Rewrite every inline-list snapshot to reference a REAL manifest-list
    * file. v1 docs may legally carry embedded `manifests` arrays, but
    * v2+ REQUIRES manifest-list (format/spec.md snapshots) — every
    * v1→v2+ upgrade path materializes through here (passing the TARGET
    * version, so a direct v1→v3 upgrade writes v3-shaped lists) and the
    * upgraded document never persists the v1 form. List format/codec
    * follow the table's manifest settings, like any commit; an encrypted
    * table's wrapped list DEK records on the snapshot (same contract as
    * every other writeList caller). */
  def materializeInline(m: TableMetadata, targetFormatVersion: Int): TableMetadata = {
    val needs = m.snapshots.exists(_.manifestListPath.startsWith("inline:"))
    if (!needs) m
    else m.copy(snapshots = m.snapshots.map { sn =>
      inlinePaths(sn.manifestListPath) match {
        case None => sn
        case Some(_) =>
          val mfs = readList(sn.manifestListPath) // expands + stats sizes
          val path = s"${m.location}/metadata/manifest-list-" +
            s"${sn.snapshotId}-${java.util.UUID.randomUUID}${fileExt(m.properties)}"
          val keyMeta = writeList(path, mfs, GraftIO.metadataGzip(m.properties),
            TableCrypto.resolve(m), avro = avroEnabled(m.properties),
            formatVersion = math.max(2, targetFormatVersion),
            partTypes = partTypesOf(m))
          sn.copy(manifestListPath = path,
            keyMetadata = keyMeta.orElse(sn.keyMetadata))
      }
    })
  }

  /** The entries snapshot `snap` added, data and delete files alike,
    * from the manifests it wrote (reference Snapshot.addedDataFiles /
    * addedDeleteFiles). */
  def addedEntries(snap: Snapshot): Seq[ManifestEntry] =
    readList(snap.manifestListPath)
      .filter(_.addedSnapshotId == snap.snapshotId)
      .flatMap(mf => readEntries(mf))
      .filter(e => e.status == ManifestEntryStatus.Added &&
        e.snapshotId == snap.snapshotId)

  def readList(path: String): Seq[ManifestFile] = {
    if (path.startsWith("inline:")) return listCache.get(path) {
      val arr = MetaJson.mapper.readTree(path.stripPrefix("inline:"))
      val buf = Seq.newBuilder[ManifestFile]
      arr.elements().forEachRemaining { p =>
        val mp = p.asText()
        buf += ManifestFile(mp,
          length = try GraftIO.size(mp) catch { case _: Throwable => 0L },
          specId = 0, content = FileContent.Data, addedSnapshotId = -1L,
          minSequenceNumber = 0L, addedFilesCount = 1, existingFilesCount = 1,
          deletedFilesCount = 0, addedRowsCount = 0L,
          existingRowsCount = -1L)
      }
      buf.result()
    }
    listCache.get(path) {
    val base = GraftIO.metadataBase(path)
    val bytes = GraftIO.readBytes(path, CryptoRegistry.fileKey(path))
    val parsed =
      if (AvroManifests.isAvro(bytes)) AvroManifests.readList(bytes)
      else {
        val n = MetaJson.mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
        val buf = Seq.newBuilder[ManifestFile]
        n.elements().forEachRemaining(e => buf += MetaJson.readManifestFile(e))
        buf.result()
      }
    parsed.map(m => m.copy(path = GraftIO.resolve(m.path, base)))
    }
  }
}

/** Commit-time manifest maintenance knobs (reference
  * TableProperties.java:115-122 — MANIFEST_TARGET_SIZE_BYTES /
  * MANIFEST_MIN_MERGE_COUNT / MANIFEST_MERGE_ENABLED, same names and
  * defaults). */
object ManifestMerge {
  val MergeEnabledKey = "commit.manifest-merge.enabled"
  val MinCountKey = "commit.manifest.min-count-to-merge"
  val TargetSizeKey = "commit.manifest.target-size-bytes"

  def enabled(props: Map[String, String]): Boolean =
    props.get(MergeEnabledKey).forall(_.equalsIgnoreCase("true"))
  def minCountToMerge(props: Map[String, String]): Int =
    props.get(MinCountKey).flatMap(_.toIntOption).getOrElse(100)
  def targetSizeBytes(props: Map[String, String]): Long =
    props.get(TargetSizeKey).flatMap(_.toLongOption).getOrElse(8L * 1024 * 1024)
}

/** Commit retry knobs (reference TableProperties.java:89-101 —
  * COMMIT_NUM_RETRIES 4 / COMMIT_MIN_RETRY_WAIT_MS 100 /
  * COMMIT_MAX_RETRY_WAIT_MS 60000 / COMMIT_TOTAL_RETRY_TIME_MS 1800000,
  * same names and defaults): per-table tuning of optimistic-commit
  * contention behavior — a hot multi-writer table can retry longer, a
  * fail-fast pipeline can set num-retries=0. */
object CommitRetry {
  val NumRetriesKey = "commit.retry.num-retries"
  val MinWaitKey = "commit.retry.min-wait-ms"
  val MaxWaitKey = "commit.retry.max-wait-ms"
  val TotalTimeoutKey = "commit.retry.total-timeout-ms"

  final case class Knobs(numRetries: Int, minWaitMs: Long, maxWaitMs: Long,
      totalTimeoutMs: Long)

  def of(props: Map[String, String]): Knobs = {
    def l(k: String, d: Long) =
      props.get(k).flatMap(_.toLongOption).getOrElse(d).max(0L)
    Knobs(
      props.get(NumRetriesKey).flatMap(_.toIntOption).getOrElse(4).max(0),
      l(MinWaitKey, 100L), l(MaxWaitKey, 60000L), l(TotalTimeoutKey, 1800000L))
  }

  /** Backoff before retry `attempt` (1-based): jittered exponential,
    * uniform in [minWait, min(maxWait, minWait·2^(attempt-1))] — the
    * exponential schedule is the reference's (Tasks.exponentialBackoff);
    * the jitter avoids lockstep re-contention when many writers hit one
    * table. Always within [min(minWait,maxWait), maxWait]. */
  def waitMs(attempt: Int, k: Knobs, rnd: java.util.Random): Long = {
    val lo = math.min(k.minWaitMs, k.maxWaitMs)
    val shift = math.min(math.max(attempt - 1, 0), 20)
    val exp = // overflow-safe minWait << shift
      if (shift > 0 && k.minWaitMs > (Long.MaxValue >> shift)) Long.MaxValue
      else k.minWaitMs << shift
    val cap = math.max(lo, math.min(k.maxWaitMs, exp))
    if (cap <= lo) lo else lo + (rnd.nextDouble() * (cap - lo)).toLong
  }

  /** Shared retry-or-throw decision: returns the sleep for this retry or
    * throws when the table's retry budget (count or wall-clock) is
    * spent. `attempt` is 1-based (the just-failed attempt number). */
  def nextWaitOrThrow(attempt: Int, startedAtMs: Long,
      props: Map[String, String], what: String, where: String): Long = {
    val k = of(props)
    if (attempt > k.numRetries)
      throw new CommitConflictException(
        s"$what failed after $attempt attempts at $where " +
          s"($NumRetriesKey=${k.numRetries})")
    val elapsed = System.currentTimeMillis() - startedAtMs
    if (elapsed >= k.totalTimeoutMs)
      throw new CommitConflictException(
        s"$what failed: retries exhausted ${elapsed} ms at $where " +
          s"($TotalTimeoutKey=${k.totalTimeoutMs})")
    // clamp to the remaining wall-clock budget: a single backoff can be
    // up to max-wait-ms (60s default) — unclamped it would overshoot the
    // configured total timeout by nearly a full max-wait
    math.min(
      waitMs(attempt, k, java.util.concurrent.ThreadLocalRandom.current()),
      k.totalTimeoutMs - elapsed)
  }
}

class CommitConflictException(msg: String) extends RuntimeException(msg)
class ValidationException(msg: String) extends RuntimeException(msg)

/** A graft table handle: refreshable metadata + snapshot producers. */
final class GTable(val ops: TableOps) {
  @volatile private var cached: TableMetadata = _

  def refresh(): TableMetadata = {
    cached = ops.current().getOrElse(
      throw new IllegalStateException(s"no such table at ${ops.location}"))
    cached
  }
  def meta: TableMetadata = { if (cached == null) refresh() else cached }
  def location: String = ops.location
  def schema: GSchema = meta.schema
  def spec: PartitionSpec = meta.spec

  def newAppend(): FastAppend = new FastAppend(this)
  def newOverwrite(): OverwriteFiles = new OverwriteFiles(this)
  def newRowDelta(): RowDelta = new RowDelta(this)

  /** Multi-operation transaction (reference core/.../BaseTransaction.java):
    * run `body` against a staged in-memory copy of this table — every
    * commit inside (schema/property updates, appends, row deltas, …)
    * lands in the buffer — then publish the whole batch as ONE CAS of the
    * real pointer. Concurrent readers never see a partial state. On CAS
    * conflict the body re-runs against a refreshed base (the reference
    * re-applies its pending updates the same way), so the body must be
    * safe to re-run; files staged by a losing attempt are best-effort
    * cleaned up. */
  def transaction[A](body: GTable => A): A = {
    val t0 = System.currentTimeMillis()
    var attempts = 0
    while (true) {
      val baseVersion = ops.currentVersion()
      val base = refresh()
      val stagedOps = new StagedOps(ops, base)
      val stagedTable = new GTable(stagedOps)
      val result =
        try body(stagedTable)
        catch { case e: Throwable => stagedOps.cleanupStagedFiles(); throw e }
      if (ops.commit(baseVersion, stagedOps.stagedMeta)) {
        refresh()
        return result
      }
      stagedOps.cleanupStagedFiles()
      attempts += 1
      Thread.sleep(CommitRetry.nextWaitOrThrow(attempts, t0, base.properties,
        "transaction", location))
    }
    throw new IllegalStateException("unreachable")
  }

  def newScan(): TableScan = { refresh(); new TableScan(this) }

  def currentManifests(m: TableMetadata): Seq[ManifestFile] =
    m.currentSnapshot.map(s => ManifestIO.readList(s.manifestListPath)).getOrElse(Nil)

  def manifestsFor(m: TableMetadata, snapshotId: Long): Seq[ManifestFile] =
    m.snapshotById(snapshotId).map(s => ManifestIO.readList(s.manifestListPath)).getOrElse(Nil)

  /** Metadata-only ops: set a branch/tag ref. */
  def setRef(name: String, snapshotId: Long, refType: String): Unit = {
    commitUpdate { base =>
      require(base.snapshotById(snapshotId).isDefined, s"unknown snapshot $snapshotId")
      base.copy(refs = base.refs.updated(name, SnapshotRef(snapshotId, refType)))
    }
  }

  def rollbackTo(snapshotId: Long): Unit = commitUpdate { base =>
    require(base.snapshotById(snapshotId).isDefined, s"unknown snapshot $snapshotId")
    base.copy(currentSnapshotId = Some(snapshotId),
      snapshotLog = base.snapshotLog :+ (System.currentTimeMillis(), snapshotId),
      refs = base.refs.updated("main", SnapshotRef(snapshotId, SnapshotRefType.Branch)))
  }

  def updateProperties(up: Map[String, String]): Unit =
    commitUpdate(base => base.copy(properties = base.properties ++ up))

  /** Register `fields` as the table's default sort order (reference
    * BaseReplaceSortOrder / `ALTER TABLE … WRITE ORDERED BY`): reuse an
    * existing order's id when the fields match exactly — data files
    * stamped with that id stay truthful — else mint the next id. Empty
    * fields = revert to unsorted (order 0). */
  def replaceSortOrder(fields: Seq[SortField]): Unit = commitUpdate { base =>
    if (fields.isEmpty) base.copy(defaultSortOrderId = 0,
      sortOrders =
        if (base.sortOrders.exists(_.orderId == 0)) base.sortOrders
        else SortOrder.Unsorted +: base.sortOrders)
    else base.sortOrders.find(o => o.orderId != 0 && o.fields == fields) match {
      case Some(o) => base.copy(defaultSortOrderId = o.orderId)
      case None =>
        val id = (base.sortOrders.map(_.orderId) :+ 0).max + 1
        base.copy(sortOrders = base.sortOrders :+ SortOrder(id, fields),
          defaultSortOrderId = id)
    }
  }

  /** Generic retried CAS of a metadata transformation, with jittered
    * exponential backoff so hot committers interleave instead of
    * spinning in lockstep (reference Tasks.foreach().retry() in
    * SnapshotProducer.commit). */
  def commitUpdate(f: TableMetadata => TableMetadata): TableMetadata = {
    val t0 = System.currentTimeMillis()
    var attempts = 0
    while (true) {
      val baseVersion = ops.currentVersion()
      val base = refresh()
      val updated = f(base)
      if (ops.commit(baseVersion, updated)) {
        cached = updated
        return updated
      }
      attempts += 1
      Thread.sleep(CommitRetry.nextWaitOrThrow(attempts, t0, base.properties,
        "commit", location))
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Base snapshot producer: write manifests + manifest list, then CAS the
  * metadata pointer with retry (reference SnapshotProducer.java:87,480). */
/** One commit's outcome (reference api/.../metrics/CommitReport.java +
  * core/.../metrics/CommitMetricsResult): which snapshot landed, after
  * how many CAS attempts, how long the commit loop took, and the
  * snapshot summary (added/removed file and record counts per op). At
  * scale this is the first place to look when writers contend. */
final case class CommitReport(
    tableLocation: String, snapshotId: Long, operation: String,
    branch: String, attempts: Int, durationMs: Long,
    summary: Map[String, String], timestampMs: Long)

/** Recent commit reports, newest first (bounded ring; served by the
  * `commit_reports` metadata table — mirrors ScanReports). */
object CommitReports {
  private val Max = 128
  private val buf = new java.util.concurrent.ConcurrentLinkedDeque[CommitReport]()
  // pluggable forwarders, same contract as ScanReports.sinks
  private val sinks =
    new java.util.concurrent.CopyOnWriteArrayList[CommitReport => Unit]()
  def addSink(s: CommitReport => Unit): Unit = sinks.add(s)
  def add(r: CommitReport): Unit = {
    buf.addFirst(r)
    while (buf.size > Max) buf.pollLast()
    sinks.forEach(s => try s(r) catch { case _: Throwable => () })
  }
  def recent: Seq[CommitReport] = {
    import scala.jdk.CollectionConverters._
    buf.iterator.asScala.toSeq
  }
}

abstract class SnapshotProducer(table: GTable, operation: String) {
  protected def branch: String = "main"

  /** Produce the full manifest set for the new snapshot from the base. */
  protected def manifests(base: TableMetadata, snapshotId: Long, seq: Long): Seq[ManifestFile]

  /** resolved table key for encrypted tables — every new manifest /
    * manifest list this producer writes is AGS1-encrypted with a fresh
    * DEK wrapped by it (cached per commit attempt) */
  private var cryptoCache: Option[Option[TableCrypto]] = None
  protected final def tableCrypto(base: TableMetadata): Option[TableCrypto] = {
    if (cryptoCache.isEmpty) cryptoCache = Some(TableCrypto.resolve(base))
    cryptoCache.get
  }

  /** Manifest write honoring the table's format properties: spec-Avro
    * when `write.manifests.format=avro` / `compatibility.format=iceberg`,
    * JSON-lines (gzip per metadata codec) otherwise. The single choke
    * point every producer's manifest goes through. */
  protected final def writeManifestFile(base: TableMetadata,
      entries: Seq[ManifestEntry], spec: PartitionSpec, content: Int,
      snapshotId: Long): ManifestFile =
    ManifestIO.write(table.ops.newManifestPath(ManifestIO.fileExt(base.properties)),
      entries, spec.specId, content, spec, base.schema, snapshotId,
      GraftIO.metadataGzip(base.properties), tableCrypto(base),
      avro = ManifestIO.avroEnabled(base.properties),
      formatVersion = base.formatVersion)

  /** Rolling variant of writeManifestFile (reference
    * RollingManifestWriter.java): splits the entry set at
    * `commit.manifest.target-size-bytes` so a giant import or compaction
    * commit emits parallel-readable manifests with per-manifest partition
    * summaries instead of one monolith. One manifest in the common case. */
  protected final def writeManifestFiles(base: TableMetadata,
      entries: Seq[ManifestEntry], spec: PartitionSpec, content: Int,
      snapshotId: Long): Seq[ManifestFile] =
    ManifestIO.chunkByTarget(entries,
        ManifestMerge.targetSizeBytes(base.properties))
      .map(chunk => writeManifestFile(base, chunk, spec, content, snapshotId))

  /** Commit-time manifest merging (reference MergeAppend.java via
    * MergingSnapshotProducer.java + ManifestMergeManager.java:83-239).
    * On by default (`commit.manifest-merge.enabled`): per content kind
    * (data / deletes, reference keeps two managers) and per spec,
    * manifests bin-pack FROM THE END at
    * `commit.manifest.target-size-bytes` (lookback 1, so the one
    * under-filled bin is the newest and fills up on later commits); every
    * multi-manifest bin rewrites into ONE manifest — except the bin
    * holding this commit's newest manifest, which merges only once it
    * reaches `commit.manifest.min-count-to-merge` (default 100). Net:
    * manifest count stays bounded (~min-count per spec) under
    * frequent-commit workloads — the streaming-sink planning cliff —
    * while merge WRITE amplification stays amortized O(1) per commit.
    *
    * Carried entries keep their snapshot id + data sequence as Existing
    * (changelog / incremental / cherry-pick filters on
    * status==Added && snapshotId==sn are unaffected; older snapshots'
    * own manifest lists are immutable). Deleted markers from prior
    * snapshots are dropped (only meaningful in the list of the snapshot
    * that wrote them). All-dead manifests from PRIOR snapshots drop like
    * the reference's merge; THIS commit's own all-dead marker manifests
    * pass through untouched — they ARE the deletion record (reference
    * TestRewriteFiles pins the rewritten file serving status=DELETED
    * from its own manifest). */
  protected final def mergeManifests(base: TableMetadata, snapshotId: Long,
      all: Seq[ManifestFile]): Seq[ManifestFile] = {
    val props = base.properties
    if (!ManifestMerge.enabled(props) || all.size < 2) return all
    val target = ManifestMerge.targetSizeBytes(props)
    val minCount = math.max(2, ManifestMerge.minCountToMerge(props))
    val out = Seq.newBuilder[ManifestFile]
    Seq(0, 1).foreach { content =>
      val group = all.filter(m => m.content == content && m.hasLiveFiles)
      if (group.nonEmpty) {
        val bySpec = group.groupBy(_.specId)
        group.map(_.specId).distinct.foreach { specId =>
          // the newest manifest of this (content, spec) group — its bin
          // gets the min-count guard so steady-state commits don't
          // rewrite eagerly (reference ManifestMergeManager applies the
          // guard to the first bin of EACH spec group; guarding only the
          // globally-newest manifest would over-merge every other spec's
          // head bin after a spec evolution)
          val newestPath = bySpec(specId).head.path
          packEnd(bySpec(specId), target).foreach { bin =>
            if (bin.size == 1) out += bin.head
            else if (bin.exists(_.path == newestPath) && bin.size < minCount)
              out ++= bin
            else out ++= createMerged(base, snapshotId, bin, specId, content)
          }
        }
      }
    }
    // this commit's all-dead marker manifests ride along unmerged: the
    // hasLiveFiles group filter above must not erase what this snapshot
    // just recorded as deleted
    out ++= all.filter(m => !m.hasLiveFiles && m.deletedFilesCount > 0 &&
      m.addedSnapshotId == snapshotId)
    val merged = out.result()
    // this attempt's pre-merge manifests that were merged away are
    // referenced by nothing — delete eagerly (reference
    // ManifestMergeManager.cleanUncommitted) instead of leaving orphans
    val kept = merged.map(_.path).toSet
    all.filter(m => m.addedSnapshotId == snapshotId && !kept.contains(m.path))
      .foreach(m => GraftIO.delete(m.path))
    merged
  }

  /** Bin-pack manifests by file length up to `target`, packing from the
    * END with lookback 1 (reference BinPacking.ListPacker.packEnd): input
    * order is newest-first, so the under-filled bin is the newest one —
    * it merges on a later commit once it fills. Bins come back in input
    * order, entries within each bin in input order. */
  private def packEnd(group: Seq[ManifestFile],
      target: Long): Seq[List[ManifestFile]] = {
    val bins = List.newBuilder[List[ManifestFile]]
    var cur = List.empty[ManifestFile]
    var w = 0L
    group.reverseIterator.foreach { m =>
      if (cur.nonEmpty && w + m.length > target) {
        bins += cur; cur = Nil; w = 0L
      }
      cur = m :: cur // prepend restores newest-first order within the bin
      w += m.length
    }
    if (cur.nonEmpty) bins += cur
    bins.result().reverse
  }

  /** Rewrite one bin into a single manifest (reference
    * ManifestMergeManager.createManifest): this commit's Added entries
    * stay Added, live carried entries become Existing with their original
    * snapshot id / sequence, prior snapshots' Deleted markers drop. None
    * when everything dropped. */
  private def createMerged(base: TableMetadata, snapshotId: Long,
      bin: Seq[ManifestFile], specId: Int, content: Int): Option[ManifestFile] = {
    val crypto = tableCrypto(base)
    val entries = bin.flatMap { m =>
      ManifestIO.readEntries(m, crypto).flatMap { e =>
        if (e.status == ManifestEntryStatus.Deleted)
          if (e.snapshotId == snapshotId) Some(e) else None
        else if (e.status == ManifestEntryStatus.Added && e.snapshotId == snapshotId)
          Some(e)
        else Some(e.copy(status = ManifestEntryStatus.Existing))
      }
    }
    if (entries.isEmpty) None
    else Some(writeManifestFile(base, entries, base.specById(specId), content,
      snapshotId))
  }

  /** head snapshot this commit builds on: the branch's head, or — when
    * the branch doesn't exist yet (first staged WAP write) — the current
    * main head, so a new branch forks from the table's current state */
  protected def parentSnapshot(base: TableMetadata): Option[Snapshot] =
    base.ref(branch).flatMap(r => base.snapshotById(r.snapshotId))
      .orElse(base.currentSnapshot)

  /** manifests of the target branch's head (the parent of this commit) */
  protected def parentManifests(base: TableMetadata): Seq[ManifestFile] =
    parentSnapshot(base)
      .map(s => ManifestIO.readList(s.manifestListPath)).getOrElse(Nil)
  protected def summary(base: TableMetadata): Map[String, String] = Map.empty
  /** Re-check preconditions against a refreshed base (conflict detection). */
  protected def validate(base: TableMetadata): Unit = ()

  /** extra snapshot-summary entries (wap.id, streaming epoch ids, …) */
  private var extraSummary = Map.empty[String, String]
  def set(key: String, value: String): this.type = {
    extraSummary += (key -> value); this
  }

  // rewrites (compaction, delete-file rewrite, dangling-delete removal)
  // commit as operation "replace" (reference DataOperations.REPLACE):
  // they change no logical rows, so row-level conflict validation and
  // CDC must be able to tell them apart from real overwrites
  private var opOverride: Option[String] = None
  def overrideOperation(op: String): this.type = { opOverride = Some(op); this }
  protected final def operationName: String = opOverride.getOrElse(operation)

  // write-audit-publish by id (reference SnapshotProducer.stageOnly):
  // the snapshot is added to table metadata but NO ref moves; it is
  // published later by cherry-pick (`publish_changes` with its wap.id)
  private var stagedOnly = false
  def stageOnly(): this.type = { stagedOnly = true; this }

  // v3 row lineage: newly added data files get sequential _row_id ranges
  // from the table's next-row-id counter. Files that already carry a
  // first-row-id (cherry-picked appends) keep it — same rows, same ids.
  private var allocatedRows = 0L
  protected def assignRowIds(base: TableMetadata, files: Seq[DataFile]): Seq[DataFile] = {
    // single choke point for every data-file commit (append / overwrite /
    // delta / import / compaction): trim column metrics to the table's
    // policy (reference MetricsConfig; write.metadata.metrics.*) so wide
    // schemas don't bloat manifests with full string bounds at scale
    val metricsConfig = MetricsConfig.forTable(base)
    var next = base.nextRowId + allocatedRows
    val out = files.map { f0 =>
      val f = metricsConfig.trimFile(f0)
      if (f.content == FileContent.Data && f.firstRowId.isEmpty) {
        val withId = f.copy(firstRowId = Some(next)); next += f.recordCount; withId
      } else f
    }
    allocatedRows = next - base.nextRowId
    out
  }

  /** commit-time metadata amendment hook: runs on every CAS attempt's
    * fresh base BEFORE manifests are written, and the amended metadata is
    * what the snapshot commits on top of (RowDelta uses it to append an
    * unpartitioned spec for global delete files) */
  protected def amendBase(base: TableMetadata): TableMetadata = base

  def commit(): Snapshot = {
    val t0 = System.currentTimeMillis()
    var attempts = 0
    while (true) {
      val baseVersion = table.ops.currentVersion()
      val base = amendBase(table.refresh())
      validate(base)
      val snapshotId = math.abs(java.util.UUID.randomUUID.getMostSignificantBits)
      val seq = base.lastSequenceNumber + 1
      allocatedRows = 0L
      cryptoCache = None
      val ms = manifests(base, snapshotId, seq)
      val listAvro = ManifestIO.avroEnabled(base.properties)
      val listPath = table.ops.newManifestListPath(snapshotId,
        ManifestIO.fileExt(base.properties))
      val listKeyMeta = ManifestIO.writeList(listPath, ms,
        GraftIO.metadataGzip(base.properties), tableCrypto(base),
        avro = listAvro, formatVersion = base.formatVersion,
        partTypes = ManifestIO.partTypesOf(base))
      val parent = parentSnapshot(base).map(_.snapshotId)
      // table-state totals (reference SnapshotSummary total-* metrics):
      // exact sums over the new manifest list — O(#manifests), no entry
      // scan, no fragile chaining from the parent's summary
      val dataMs = ms.filter(_.content == 0)
      val delMs = ms.filter(_.content == 1)
      val deltas = summary(base)
      // manifest-maintenance observability (reference
      // SnapshotSummary.java:65-67 CREATED/REPLACED/KEPT_MANIFESTS_COUNT
      // via MergingSnapshotProducer:1025-1037): created = written by this
      // commit, kept = carried from the parent untouched, replaced =
      // parent manifests no longer in the new list (filter-rewritten,
      // merged away, or dropped empty)
      val msPaths = ms.map(_.path).toSet
      val createdCount = ms.count(_.addedSnapshotId == snapshotId)
      val manifestCounts = Map(
        "manifests-created" -> createdCount.toString,
        "manifests-kept" -> (ms.size - createdCount).toString,
        "manifests-replaced" ->
          parentManifests(base).count(p => !msPaths.contains(p.path)).toString)
      val totals = Map(
        "total-data-files" ->
          dataMs.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum.toString,
        "total-delete-files" ->
          delMs.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum.toString) ++
        // total-records only when every manifest's existing-row count is
        // known — a pre-field manifest (existingRowsCount < 0) would
        // make the published total silently wrong, worse than absent
        (if (dataMs.forall(_.existingRowsCount >= 0))
          Map("total-records" -> dataMs.map(_.liveRowsCount).sum.toString)
        else Map.empty) ++
        // total-files-size / total-position-deletes /
        // total-equality-deletes chain parent total + this commit's
        // deltas (manifest lists don't carry live byte sums or
        // per-content delete-record sums; reference SnapshotSummary
        // chains the same way); each omitted when its chain was broken
        // by a pre-field ancestor
        {
          def d(k: String) = deltas.get(k).flatMap(_.toLongOption).getOrElse(0L)
          def chained(key: String, delta: Long): Map[String, String] =
            parentSnapshot(base) match {
              case None => Map(key -> delta.toString)
              case Some(p) => p.summary.get(key).flatMap(_.toLongOption)
                .map(t => Map(key -> math.max(0L, t + delta).toString))
                .getOrElse(Map.empty)
            }
          chained("total-files-size",
            d("added-files-size") - d("removed-files-size")) ++
          chained("total-position-deletes",
            d("added-position-deletes") - d("removed-position-deletes")) ++
          chained("total-equality-deletes",
            d("added-equality-deletes") - d("removed-equality-deletes"))
        }
      val snap = Snapshot(snapshotId, parent, seq, System.currentTimeMillis(),
        operationName, listPath,
        deltas ++ totals ++ manifestCounts ++ extraSummary,
        firstRowId = if (allocatedRows > 0) Some(base.nextRowId) else None,
        schemaId = Some(base.currentSchemaId),
        keyId = tableCrypto(base).map(_.tableKeyId),
        keyMetadata = listKeyMeta)
      val updated0 =
        if (stagedOnly) base.withStagedSnapshot(snap)
        else base.withSnapshot(snap, branch)
      val updated = updated0.copy(nextRowId = base.nextRowId + allocatedRows)
      if (table.ops.commit(baseVersion, updated)) {
        table.refresh()
        CommitReports.add(CommitReport(table.location, snapshotId, operationName,
          branch, attempts + 1, System.currentTimeMillis() - t0,
          snap.summary, System.currentTimeMillis()))
        return snap
      }
      GraftIO.delete(listPath) // clean up the orphaned list; manifests may be reused
      attempts += 1
      // retry budget + jittered exponential backoff per the table's own
      // commit.retry.* properties (reference TableProperties.java:89-101,
      // applied through Tasks.retry in SnapshotProducer.commit)
      Thread.sleep(CommitRetry.nextWaitOrThrow(attempts, t0, base.properties,
        s"$operationName commit", table.location))
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Append (reference FastAppend.java / MergeAppend.java): with
  * `commit.manifest-merge.enabled` (the default) the inherited
  * mergeManifests applies MergeAppend semantics — small manifests
  * bin-pack into merged ones at commit time; disabling the property
  * yields the reference's FastAppend behavior (one new manifest per
  * commit, nothing rewritten). */
final class FastAppend(table: GTable) extends SnapshotProducer(table, "append") {
  private val files = Seq.newBuilder[DataFile]
  private var toBranch = "main"
  def appendFile(f: DataFile): this.type = { files += f; this }
  def appendFiles(fs: Seq[DataFile]): this.type = { files ++= fs; this }
  def toBranch(b: String): this.type = { toBranch = b; this }
  override protected def branch: String = toBranch

  override protected def manifests(base: TableMetadata, snapshotId: Long,
      seq: Long): Seq[ManifestFile] = {
    val added = assignRowIds(base, files.result())
    if (added.isEmpty) return parentManifests(base)
    val entries = added.map(f => ManifestEntry(ManifestEntryStatus.Added, snapshotId, seq, f))
    val spec = base.specById(added.head.specId)
    val fresh = writeManifestFiles(base, entries, spec, FileContent.Data, snapshotId)
    // MergeAppend semantics when commit.manifest-merge.enabled (the
    // reference's DEFAULT append path) — FastAppend behavior otherwise
    mergeManifests(base, snapshotId, fresh ++ parentManifests(base))
  }

  override protected def summary(base: TableMetadata): Map[String, String] = {
    val added = files.result()
    Map("added-data-files" -> added.size.toString,
      "added-records" -> added.map(_.recordCount).sum.toString,
      "added-files-size" -> added.map(_.fileSizeBytes).sum.toString,
      "changed-partition-count" ->
        added.map(PartitionTuples.key).distinct.size.toString)
  }
}

/** Overwrite: remove files (by path set or by strict-matching predicate)
  * and add replacements atomically (reference BaseOverwriteFiles /
  * BaseRewriteFiles). Fails with ValidationException if a predicate
  * delete would need a row-level rewrite (caller falls back to CoW). */
final class OverwriteFiles(table: GTable) extends SnapshotProducer(table, "overwrite") {
  private val added = Seq.newBuilder[DataFile]
  private val removedPaths = Set.newBuilder[String]
  // files dropped by the LAST manifests() pass (summary() runs after it
  // in commit(); cleared per attempt so CAS retries re-count)
  private val droppedFiles = scala.collection.mutable.ArrayBuffer.empty[DataFile]
  private var deleteExpr: Option[Expr] = None
  private var replaceParts: Option[Set[Seq[Any]]] = None
  private var validateNoConflictingAppendsFrom: Option[Long] = None
  private var targetBranch = "main"
  def toBranch(b: String): this.type = { targetBranch = b; this }
  override protected def branch: String = targetBranch

  def addFile(f: DataFile): this.type = { added += f; this }
  def addFiles(fs: Seq[DataFile]): this.type = { added ++= fs; this }
  def deleteFile(path: String): this.type = { removedPaths += path; this }
  def deleteFiles(paths: Seq[String]): this.type = { removedPaths ++= paths; this }
  /** metadata-only delete: drop whole files proven to match */
  def overwriteByRowFilter(e: Expr): this.type = { deleteExpr = Some(e); this }
  /** dynamic-partition overwrite: drop all live files in these partitions */
  def replacePartitions(parts: Set[Seq[Any]]): this.type = {
    replaceParts = Some(parts.map(normalizeKey)); this
  }
  private def normalizeKey(p: Seq[Any]): Seq[Any] = PartitionTuples.normalize(p)
  def validateFromSnapshot(snapshotId: Long): this.type = {
    validateNoConflictingAppendsFrom = Some(snapshotId); this
  }

  /** Serializable isolation (reference IsolationLevel + per-op
    * validateAddedDataFiles): ALSO fail when data appended since the
    * validated snapshot might match this row filter — under snapshot
    * isolation concurrent appends are allowed, under serializable a
    * DELETE must observe rows a concurrent append slipped in. */
  def failOnNewMatchingData(filter: Expr): this.type = {
    conflictFilter = Some(filter); this
  }
  private var conflictFilter: Option[Expr] = None

  override protected def validate(base: TableMetadata): Unit =
    validateNoConflictingAppendsFrom.foreach { fromId =>
      val fromSeq = base.snapshotById(fromId).map(_.sequenceNumber).getOrElse(0L)
      // only commits on THIS branch's ancestry conflict — staged WAP
      // snapshots and other branches' commits are invisible to readers
      // of this branch
      val newer = base.ancestry(branch).filter(_.sequenceNumber > fromSeq)
      if (newer.exists(s => s.operation != "append")) {
        throw new CommitConflictException(
          s"conflicting ${newer.map(_.operation).mkString(",")} since snapshot $fromId")
      }
      conflictFilter.foreach { filter =>
        val bound = Expr.bind(base.schema, filter)
        base.ancestry(branch)
          .filter(s => s.operation == "append" && s.sequenceNumber > fromSeq)
          .foreach { sn =>
            if (ManifestIO.addedEntries(sn).exists(e =>
                InclusiveMetricsEvaluator.rowsMightMatch(bound, e.file.fileStats)))
              throw new CommitConflictException(
                s"serializable isolation: snapshot ${sn.snapshotId} appended " +
                  s"rows that might match the operation filter")
          }
      }
    }

  override protected def manifests(base: TableMetadata, snapshotId: Long,
      seq: Long): Seq[ManifestFile] = {
    val removeSet = removedPaths.result()
    val schema = base.schema
    val bound = deleteExpr.map(e => Expr.bind(schema, e))
    val removedSeen = scala.collection.mutable.Set.empty[String]
    droppedFiles.clear()
    // rewrite existing manifests without the removed files. TWO passes:
    // data manifests first (collecting every dropped data-file path),
    // then delete manifests — spec v3 "when removing a data file,
    // writers must also remove any deletion vector that applies to that
    // data file from delete manifests", so a compaction/CoW that retires
    // a data file retires its DV in the SAME commit instead of leaving
    // it dangling for remove_dangling_deletes
    def rewriteWithout(mf: ManifestFile,
        drop: ManifestEntry => Boolean): Option[ManifestFile] = {
      val entries = ManifestIO.readEntries(mf).filter(_.isLive)
      // a manifest with NOTHING live left — only prior snapshots'
      // Deleted markers — drops from the new list; markers outlive
      // exactly the snapshot that wrote them (reference
      // ManifestFilterManager/ManifestMergeManager age them out)
      if (entries.isEmpty) return None
      val spec = base.specById(mf.specId)
      val (dropped, keptEntries) = entries.partition(drop)
      droppedFiles ++= dropped.map(_.file)
      if (dropped.isEmpty) Some(mf)
      else {
        // removed entries stay in the rewritten manifest as status=2
        // Deleted markers stamped with the deleting snapshot, original
        // sequence numbers preserved (reference ManifestFilterManager
        // filterManifest → ManifestWriter.delete): the entries metadata
        // table and external tooling see WHAT this commit removed — an
        // all-deleted manifest is still written for that record
        val markers = dropped.map(e =>
          e.copy(status = ManifestEntryStatus.Deleted, snapshotId = snapshotId))
        Some(writeManifestFile(base, keptEntries ++ markers, spec, mf.content,
          snapshotId))
      }
    }
    def baseDrop(spec: PartitionSpec)(e: ManifestEntry): Boolean =
      if (removeSet.contains(e.file.path)) { removedSeen += e.file.path; true }
      else if (replaceParts.exists(_.contains(normalizeKey(e.file.partition)))) true
      else bound match {
        case Some(expr) if e.file.content == FileContent.Data =>
          val partStrict = Projections.strict(spec, schema, expr)
          val partMatches = RowEvaluator.eval(partStrict, ArrayRow(e.file.partition.toArray))
          val strictStats = StrictMetricsEvaluator.rowsMustMatch(expr, e.file.fileStats)
          if (partMatches || strictStats) true
          else {
            val inclusive = Projections.inclusive(spec, schema, expr)
            val mightMatch = RowEvaluator.eval(inclusive, ArrayRow(e.file.partition.toArray)) &&
              InclusiveMetricsEvaluator.rowsMightMatch(expr, e.file.fileStats)
            if (mightMatch)
              throw new ValidationException(
                s"cannot metadata-delete: ${e.file.path} partially matches; rewrite required")
            false
          }
        case _ => false
      }
    val (dataParents, delParents) = parentManifests(base).partition(_.content == 0)
    val keptData = dataParents.flatMap(mf =>
      rewriteWithout(mf, baseDrop(base.specById(mf.specId))))
    val droppedDataPaths = droppedFiles.iterator
      .filter(_.content == FileContent.Data).map(_.path).toSet
    val keptDel = delParents.flatMap { mf =>
      val spec = base.specById(mf.specId)
      // DVs AND file-granular position-delete files: both declare (via
      // referenced_data_file) that their content applies to exactly one
      // data file, so they retire with it; partition-granularity deletes
      // (no referenced file) stay for remove_dangling_deletes
      rewriteWithout(mf, e => baseDrop(spec)(e) ||
        (e.file.content == FileContent.PositionDeletes &&
          e.file.referencedDataFile.exists(droppedDataPaths.contains)))
    }
    val kept = keptData ++ keptDel
    // A path we were told to replace is no longer live: a concurrent
    // commit (compaction, another CoW) already removed it. Committing the
    // rewritten copy anyway would duplicate its surviving rows — fail the
    // commit instead (serializable isolation; reference BaseOverwriteFiles
    // validation).
    val missing = removeSet -- removedSeen
    if (missing.nonEmpty)
      throw new CommitConflictException(
        s"files to replace no longer live (concurrent rewrite?): ${missing.take(3).mkString(", ")}")
    val addedFiles = assignRowIds(base, added.result())
    val ms =
      if (addedFiles.isEmpty) kept
      else {
        // data and delete files go to separate manifests (content 0 vs 1) —
        // rewrite_position_deletes replaces delete files through this path
        addedFiles.groupBy(_.isDeleteFile).toSeq.flatMap { case (isDelete, fs) =>
          val spec = base.specById(fs.head.specId)
          val entries = fs.map(f =>
            ManifestEntry(ManifestEntryStatus.Added, snapshotId, seq, f))
          writeManifestFiles(base, entries, spec,
            if (isDelete) 1 else FileContent.Data, snapshotId)
        } ++ kept
      }
    mergeManifests(base, snapshotId, ms)
  }

  override protected def summary(base: TableMetadata): Map[String, String] = {
    val adds = added.result()
    def isData(f: DataFile) = f.content == FileContent.Data
    Map(
      "added-data-files" -> adds.count(isData).toString,
      "added-delete-files" -> adds.count(f => !isData(f)).toString,
      "added-records" -> adds.filter(isData).map(_.recordCount).sum.toString,
      "added-files-size" -> adds.map(_.fileSizeBytes).sum.toString,
      "deleted-data-files" -> droppedFiles.count(isData).toString,
      "removed-delete-files" -> droppedFiles.count(f => !isData(f)).toString,
      "deleted-records" ->
        droppedFiles.filter(isData).map(_.recordCount).sum.toString,
      "removed-files-size" -> droppedFiles.map(_.fileSizeBytes).sum.toString,
      // delete-RECORD deltas by content kind, so the snapshot totals
      // (total-position-deletes / total-equality-deletes) can chain
      // parent + delta (reference SnapshotSummary removed*Deletes)
      "removed-position-deletes" -> droppedFiles
        .filter(_.content == FileContent.PositionDeletes)
        .map(_.recordCount).sum.toString,
      "removed-equality-deletes" -> droppedFiles
        .filter(_.content == FileContent.EqualityDeletes)
        .map(_.recordCount).sum.toString,
      "added-position-deletes" -> adds
        .filter(_.content == FileContent.PositionDeletes)
        .map(_.recordCount).sum.toString,
      "added-equality-deletes" -> adds
        .filter(_.content == FileContent.EqualityDeletes)
        .map(_.recordCount).sum.toString,
      "changed-partition-count" ->
        (adds ++ droppedFiles).map(PartitionTuples.key).distinct.size.toString)
  }
}

/** Merge-on-read delta: add position/equality delete files (+ optional
  * new data files) without touching existing data (reference
  * BaseRowDelta.java). Validates that the data files its position
  * deletes reference are still live — a concurrent rewrite replacing
  * them would strand the deletes and resurrect rows. */
final class RowDelta(table: GTable) extends SnapshotProducer(table, "delete") {
  private val deleteFiles = Seq.newBuilder[DataFile]
  private val dataFiles = Seq.newBuilder[DataFile]
  private var targetBranch = "main"
  // scan-to-commit conflict window (reference BaseRowDelta
  // conflictDetectionFilter + validateFromSnapshot): which snapshot the
  // operation read, the row filter it matched against, and the
  // isolation level to enforce against commits that landed in between
  private var conflictFrom: Option[Long] = None
  private var conflictFilter: Expr = TrueE
  private var conflictSerializable = false
  private var conflictConfigured = false
  def addDeletes(f: DataFile): this.type = { deleteFiles += f; this }
  def addRows(f: DataFile): this.type = { dataFiles += f; this }
  def toBranch(b: String): this.type = { targetBranch = b; this }
  override protected def branch: String = targetBranch

  def validateFromSnapshot(scannedSnapshotId: Option[Long], filter: Expr,
      serializable: Boolean): this.type = {
    conflictFrom = scannedSnapshotId
    conflictFilter = filter
    conflictSerializable = serializable
    conflictConfigured = true
    this
  }

  override protected def validate(base: TableMetadata): Unit = {
    val referenced = deleteFiles.result().flatMap(_.referencedDataFile).toSet
    if (referenced.nonEmpty) {
      val live = parentManifests(base).filter(_.content == 0)
        .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive))
        .map(_.file.path).toSet
      val gone = referenced -- live
      if (gone.nonEmpty)
        throw new CommitConflictException(
          s"data files referenced by position deletes were concurrently " +
            s"replaced: ${gone.take(3).mkString(", ")}")
    }
    // write-write conflicts in the scan-to-commit window: a concurrent
    // commit that added DELETE files matching our filter may have masked
    // rows this operation read (lost update — both isolation levels);
    // under serializable, concurrently ADDED data rows matching the
    // filter are phantoms the operation should have seen. Rewrites
    // (operation "replace": compaction, delete-file rewrites) change no
    // logical rows and are skipped, like the reference's REPLACE
    // exclusion. The window walks the PARENT CHAIN of this commit's
    // parent snapshot — not a ref — so the first staged write to a
    // not-yet-existing WAP branch still validates against the main-line
    // commits it forks from.
    if (conflictConfigured) {
      val bound = Expr.bind(base.schema, conflictFilter)
      val chain = Iterator.iterate(parentSnapshot(base))(
        _.flatMap(_.parentId).flatMap(base.snapshotById))
        .takeWhile(_.isDefined).map(_.get)
        .takeWhile(s => !conflictFrom.contains(s.snapshotId)) // newest-first
      chain.filterNot(_.operation == "replace").foreach { s =>
        // data AND delete files: a concurrent delete is a conflict too
        val added = ManifestIO.addedEntries(s)
        // pre-filter by exact partition evaluation (layer-3 style): a
        // file in a partition the filter excludes can't conflict
        def partMight(e: ManifestEntry): Boolean =
          base.specById(e.file.specId) match {
            case spec if spec.fields.nonEmpty &&
                e.file.partition.length == spec.fields.length =>
              RowEvaluator.eval(
                Projections.inclusive(spec, base.schema, bound),
                ArrayRow(e.file.partition.toArray))
            case _ => true
          }
        def mightMatch(e: ManifestEntry): Boolean =
          partMight(e) &&
            InclusiveMetricsEvaluator.rowsMightMatch(bound, e.file.fileStats)
        if (added.exists(e => e.file.content != FileContent.Data && mightMatch(e)))
          throw new CommitConflictException(
            s"concurrent commit ${s.snapshotId} added delete files " +
              "matching this operation's filter (lost update)")
        if (conflictSerializable &&
            added.exists(e => e.file.content == FileContent.Data && mightMatch(e)))
          throw new CommitConflictException(
            s"serializable isolation: concurrent commit ${s.snapshotId} " +
              "added rows matching this operation's filter")
        // Concurrently REMOVED data files: a metadata-only or whole-file
        // CoW DELETE commits with no added files, so the checks above
        // can't see it — but rows this operation read (and is about to
        // re-write) may have been deleted underneath it, and committing
        // would resurrect them. Lost update under BOTH isolation levels
        // (reference BaseRowDelta validateDeletedDataFiles /
        // validateNoConflictingDeletedDataFiles). Diff at the manifest
        // level: only manifests the child dropped or rewrote can contain
        // removals, so shared manifest files are never read.
        val parentOpt = s.parentId.flatMap(base.snapshotById)
        // if the concurrent snapshot's parent was expired mid-window we
        // cannot diff its removals — for operations that can remove rows
        // that is an unverifiable conflict, not a pass (skipping would
        // reintroduce exactly the lost update this check exists for)
        if (s.parentId.isDefined && parentOpt.isEmpty &&
            (s.operation == "delete" || s.operation == "overwrite"))
          throw new CommitConflictException(
            s"cannot validate concurrent ${s.operation} ${s.snapshotId}: " +
              "its parent snapshot is no longer available")
        val removedData = parentOpt.toSeq.flatMap { p =>
          val parentMs = ManifestIO.readList(p.manifestListPath).filter(_.content == 0)
          val childMs = ManifestIO.readList(s.manifestListPath).filter(_.content == 0)
          val childPaths = childMs.map(_.path).toSet
          val droppedMs = parentMs.filterNot(m => childPaths.contains(m.path))
          if (droppedMs.isEmpty) Nil
          else {
            val parentPaths = parentMs.map(_.path).toSet
            val stillLive = childMs.filterNot(m => parentPaths.contains(m.path))
              .flatMap(m => ManifestIO.readEntries(m).filter(_.isLive))
              .map(_.file.path).toSet
            droppedMs.flatMap(m => ManifestIO.readEntries(m).filter(e =>
              e.isLive && e.file.content == FileContent.Data &&
                !stillLive.contains(e.file.path)))
          }
        }
        if (removedData.exists(mightMatch))
          throw new CommitConflictException(
            s"concurrent commit ${s.snapshotId} deleted data files " +
              "matching this operation's filter (lost update)")
      }
    }
  }

  /** v3 "at most one deletion vector per data file" (format/spec.md
    * Deletion Vectors; reference BaseDVFileWriter loadPreviousDeletes +
    * rewrittenDeleteFiles): union each incoming DV with any LIVE DV
    * already referencing the same data file (and with same-commit
    * siblings), return the rewritten delete list plus the superseded
    * prior DV paths to drop from the parent delete manifests. Runs
    * inside manifests() so a CAS retry re-merges against the fresh base. */
  private def mergeDVs(base: TableMetadata, ms: Seq[ManifestFile],
      snapshotId: Long,
      dels0: Seq[DataFile]): (Seq[DataFile], Set[String], ManifestFile => Boolean) = {
    val newDvs = dels0.filter(f => DVIO.isDV(f.path) && f.referencedDataFile.isDefined)
    if (newDvs.isEmpty) return (dels0, Set.empty, _ => false)
    val refs = newDvs.flatMap(_.referencedDataFile).toSet
    // manifest-level prune before any entry read: a prior DV for one of
    // the referenced data files must live in a delete manifest whose
    // partition summaries can contain that DV's partition tuple — at
    // scale this turns O(all delete manifests) commit-time reads into
    // O(touched partitions) (same layer-2 idea as scan planning)
    val newParts = newDvs.map(f => (f.specId, f.partition)).distinct
    def mightHold(mf: ManifestFile): Boolean =
      mf.partitionSummaries.isEmpty || newParts.exists { case (specId, tuple) =>
        mf.specId != specId || {
          val partType = base.specById(mf.specId).partitionType(base.schema)
          tuple.zipWithIndex.forall { case (v, i) =>
            mf.partitionSummaries.lift(i).forall { s =>
              v match {
                case null => s.containsNull
                case _: Array[Byte] | _: Seq[_] => true // no byte-wise order
                case prim => (s.lower, s.upper) match {
                  case (Some(lo), Some(hi)) =>
                    partType.fields.lift(i).forall { pf =>
                      // Avro-read lists keep bounds as Appendix-D bytes
                      // (typed only once the spec is in hand); JSON-read
                      // bounds pass through adapt unchanged
                      TypeComparators.compare(pf.tpe, prim,
                        SingleValue.adapt(pf.tpe, lo)) >= 0 &&
                        TypeComparators.compare(pf.tpe, prim,
                          SingleValue.adapt(pf.tpe, hi)) <= 0
                    }
                  case _ => true
                }
              }
            }
          }
        }
      }
    val priorByRef: Map[String, Seq[DataFile]] = ms.filter(_.content == 1)
      .filter(mightHold)
      .flatMap(mf => ManifestIO.readEntries(mf).filter(_.isLive).map(_.file))
      .filter(f => DVIO.isDV(f.path) && f.referencedDataFile.exists(refs.contains))
      .groupBy(_.referencedDataFile.get)
    val dvByRef = newDvs.groupBy(_.referencedDataFile.get)
    val needsMerge = dvByRef.filter { case (ref, nd) =>
      nd.size > 1 || priorByRef.contains(ref)
    }
    if (needsMerge.isEmpty) return (dels0, Set.empty, _ => false)
    val crypto = tableCrypto(base)
    val merged: Map[String, DataFile] = needsMerge.map { case (ref, nd) =>
      val bm = new org.roaringbitmap.longlong.Roaring64Bitmap
      (nd ++ priorByRef.getOrElse(ref, Nil)).foreach { f =>
        DVIO.read(f.path, crypto)._2.forEach((l: Long) => bm.addLong(l))
      }
      val path =
        s"${table.ops.location}/data/dv-m-$snapshotId-${java.util.UUID.randomUUID}.dv"
      val (n, off, len) = DVIO.writeBlob(path, ref, DVIO.positions(bm), crypto)
      ref -> nd.head.copy(path = path, recordCount = n,
        fileSizeBytes = GraftIO.size(path),
        contentOffset = Some(off), contentSizeInBytes = Some(len))
    }
    val out = Seq.newBuilder[DataFile]
    val emitted = scala.collection.mutable.Set.empty[String]
    dels0.foreach { f =>
      val mergedRef = f.referencedDataFile.filter(r =>
        DVIO.isDV(f.path) && needsMerge.contains(r))
      mergedRef match {
        case Some(r) => if (emitted.add(r)) out += merged(r)
        case None    => out += f
      }
    }
    val superseded = priorByRef.collect {
      case (ref, priors) if needsMerge.contains(ref) => priors.map(_.path)
    }.flatten.toSet
    (out.result(), superseded, mightHold)
  }

  /** global delete files (sentinel specId) need a real unpartitioned
    * spec to commit under — append one if the table never had one */
  override protected def amendBase(base: TableMetadata): TableMetadata =
    if (!deleteFiles.result().exists(_.specId == GlobalDeletes.SpecSentinel) ||
        base.specs.exists(_.fields.isEmpty)) base
    else base.copy(specs = base.specs :+
      graft.core.expr.PartitionSpec(base.specs.map(_.specId).max + 1, Nil))

  override protected def manifests(base: TableMetadata, snapshotId: Long,
      seq: Long): Seq[ManifestFile] = {
    val schema = base.schema
    var ms = parentManifests(base)
    // resolve the global-delete sentinel to the (possibly just-amended)
    // unpartitioned spec: entries stay arity-consistent with their spec
    val globalSpecId = base.specs.find(_.fields.isEmpty).map(_.specId)
    val rawDels = deleteFiles.result().map { f =>
      if (f.specId != GlobalDeletes.SpecSentinel) f
      else f.copy(specId = globalSpecId.getOrElse(throw new IllegalStateException(
        "global delete file without an unpartitioned spec (amendBase not applied)")))
    }
    val (dels, supersededDvs, mergeTouched) =
      mergeDVs(base, ms, snapshotId, rawDels)
    // drop superseded DVs from the parent delete manifests (same-commit
    // replacement, like OverwriteFiles' kept-manifest rewrite). Only
    // manifests the merge's partition prune touched can hold superseded
    // paths; skipping the rest is result-safe either way — a stray
    // duplicate entry would leave old+merged DVs live and readers union
    // (merged ⊇ old), so results cannot change.
    supersededDvRecords = 0L
    if (supersededDvs.nonEmpty) ms = ms.flatMap { mf =>
      if (mf.content != 1 || !mergeTouched(mf)) Some(mf)
      else {
        val entries = ManifestIO.readEntries(mf).filter(_.isLive)
        val (dropped, keep) =
          entries.partition(e => supersededDvs.contains(e.file.path))
        supersededDvRecords += dropped.map(_.file.recordCount).sum
        if (dropped.isEmpty) Some(mf)
        else {
          // the superseded DV leaves a status=2 Deleted marker like any
          // other removed file (reference records removed delete files
          // through the same filter-manager path), so t.entries shows
          // the replacement and the chained totals subtract its records
          val markers = dropped.map(e =>
            e.copy(status = ManifestEntryStatus.Deleted, snapshotId = snapshotId))
          Some(writeManifestFile(base, keep ++ markers,
            base.specById(mf.specId), mf.content, snapshotId))
        }
      }
    }
    // one manifest group per spec: a delta mixing current-spec scoped
    // deletes with GLOBAL (unpartitioned-spec) ones must not write the
    // latter under the former's spec
    committedDels = dels
    dels.groupBy(_.specId).foreach { case (sid, group) =>
      val entries = group.map(f => ManifestEntry(ManifestEntryStatus.Added, snapshotId, seq, f))
      ms = writeManifestFiles(base, entries, base.specById(sid), 1, snapshotId) ++ ms
    }
    val datas = assignRowIds(base, dataFiles.result())
    datas.groupBy(_.specId).foreach { case (sid, group) =>
      val entries = group.map(f => ManifestEntry(ManifestEntryStatus.Added, snapshotId, seq, f))
      ms = writeManifestFiles(base, entries, base.specById(sid), FileContent.Data, snapshotId) ++ ms
    }
    mergeManifests(base, snapshotId, ms)
  }

  // delete-record accounting for the chained snapshot totals: the
  // COMMITTED (post-DV-merge) delete files and the superseded priors'
  // records. summary() runs after manifests() in commit(); both fields
  // are re-filled per CAS attempt.
  private var committedDels: Seq[DataFile] = Nil
  private var supersededDvRecords: Long = 0L

  override protected def summary(base: TableMetadata): Map[String, String] = {
    val datas = dataFiles.result()
    val dels = if (committedDels.nonEmpty) committedDels else deleteFiles.result()
    Map(
      "added-delete-files" -> dels.size.toString,
      "added-data-files" -> datas.size.toString,
      "added-records" -> datas.map(_.recordCount).sum.toString,
      "added-files-size" -> (datas ++ dels).map(_.fileSizeBytes).sum.toString,
      "added-position-deletes" -> dels
        .filter(_.content == FileContent.PositionDeletes)
        .map(_.recordCount).sum.toString,
      "added-equality-deletes" -> dels
        .filter(_.content == FileContent.EqualityDeletes)
        .map(_.recordCount).sum.toString,
      "removed-position-deletes" -> supersededDvRecords.toString,
      "changed-partition-count" ->
        (datas ++ dels).map(PartitionTuples.key).distinct.size.toString)
  }
}

/** Hadoop-style directory catalog: <warehouse>/<ns...>/<table>. Subclasses
  * swap where the table POINTER lives (e.g. JdbcCatalog) while data and
  * metadata files stay under the warehouse directory. */
class HadoopCatalog(val warehouse: String) {
  def tableLocation(namespace: Seq[String], name: String): String =
    (warehouse +: namespace :+ name).mkString("/")

  def createTable(namespace: Seq[String], name: String, schema: GSchema,
      spec: PartitionSpec = PartitionSpec.Unpartitioned,
      properties: Map[String, String] = Map.empty): GTable = {
    val loc = tableLocation(namespace, name)
    val ops = new FileTableOps(loc)
    val meta = TableMetadata.newTable(loc, schema, spec, properties)
    if (!ops.commit(0, meta))
      throw new IllegalStateException(s"table already exists: $loc")
    new GTable(ops)
  }

  def loadTable(namespace: Seq[String], name: String): Option[GTable] = {
    val ops = new FileTableOps(tableLocation(namespace, name))
    if (ops.currentVersion() > 0) Some(new GTable(ops)) else None
  }

  /** Versioned-pointer ops for a table that may not exist yet — the CAS
    * target a staged CTAS/RTAS publishes against. */
  def tableOps(namespace: Seq[String], name: String): TableOps =
    new FileTableOps(tableLocation(namespace, name))

  def tableExists(namespace: Seq[String], name: String): Boolean =
    new FileTableOps(tableLocation(namespace, name)).currentVersion() > 0

  def dropTable(namespace: Seq[String], name: String): Boolean =
    dropTable(namespace, name, purge = true)

  /** purge=true deletes the whole tree. purge=false (reference
    * SparkCatalog's plain DROP TABLE) removes only the table's IDENTITY
    * — for a directory catalog that is the metadata/ dir, since the
    * directory is the pointer — and leaves every data file on disk for
    * external readers still holding them (the gc.enabled=false
    * contract). */
  def dropTable(namespace: Seq[String], name: String, purge: Boolean): Boolean = {
    val locStr = tableLocation(namespace, name)
    val loc = if (purge) locStr else s"$locStr/metadata"
    if (!GraftIO.exists(loc)) false
    else { GraftIO.deleteTree(loc); true }
  }

  def listTables(namespace: Seq[String]): Seq[String] = {
    val dir = (warehouse +: namespace).mkString("/")
    GraftIO.list(dir).map(p => GraftIO.toPath(p).getFileName.toString)
      .filter(n => new FileTableOps(s"$dir/$n").currentVersion() > 0)
  }

  /** Rename by atomic directory move. The reference HadoopCatalog throws
    * here because its metadata embeds absolute paths under the
    * name-derived location; OUR metadata stores every under-location
    * path RELATIVE (v4 relative locations), so the moved directory IS
    * the renamed table — external absolute paths (add_files imports)
    * stay where they are and keep resolving. A reader holding the old
    * location mid-move sees "no such table" and must re-resolve by name,
    * the same visibility a pointer-catalog rename gives. */
  def renameTable(namespace: Seq[String], name: String,
      newNamespace: Seq[String], newName: String): Unit = {
    val srcLoc = tableLocation(namespace, name)
    if (new FileTableOps(srcLoc).currentVersion() == 0)
      throw new IllegalArgumentException(
        s"no such table: ${(namespace :+ name).mkString(".")}")
    val dstLoc = tableLocation(newNamespace, newName)
    // refuse ANY existing destination path, not just valid tables: an
    // empty namespace directory would be silently replaced by the POSIX
    // rename, a non-empty one surfaces as a raw filesystem error
    if (GraftIO.exists(dstLoc))
      throw new IllegalStateException(
        s"destination already exists: ${(newNamespace :+ newName).mkString(".")}")
    val dst = GraftIO.toPath(dstLoc)
    java.nio.file.Files.createDirectories(dst.getParent)
    // POSIX rename(2) silently replaces an EMPTY destination directory,
    // so a bare move could clobber a racing CREATE's just-made table dir
    // without the mapped conflict. Claim the destination first with an
    // atomic createDirectory: if a racing create already owns the path
    // this fails, and once we own it the only empty dir the move can
    // replace is the one we created ourselves. A creator arriving
    // between claim and move makes dst non-empty (its metadata/ dir) and
    // the move fails with DirectoryNotEmptyException — one winner either
    // way, the loser gets a clean already-exists error.
    try java.nio.file.Files.createDirectory(dst)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"destination already exists: ${(newNamespace :+ newName).mkString(".")}")
    }
    val srcVersion = new FileTableOps(srcLoc).currentVersion()
    try java.nio.file.Files.move(GraftIO.toPath(srcLoc), dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // raced with a concurrent create of the destination
        try java.nio.file.Files.deleteIfExists(dst) // drop our empty claim
        catch { case _: Throwable => () }           // creator filled it — leave it
        throw new IllegalStateException(
          s"destination already exists: ${(newNamespace :+ newName).mkString(".")}")
    }
    // belt-and-braces: the moved directory must present this table's
    // metadata version files (guards non-POSIX move semantics)
    if (new FileTableOps(dstLoc).currentVersion() < srcVersion)
      throw new IllegalStateException(
        s"rename verification failed: $dstLoc is missing version files (expected v$srcVersion)")
  }
}
