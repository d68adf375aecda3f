package graft.storage

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Hadoop FileSystem with OBJECT-STORE semantics, for proving the engine's
  * storage layer is object-store-safe (the reference ships S3/Azure/GCS
  * backends — modules/aws/src/main/kotlin/xtdb/aws — whose contract is
  * exactly this): **no rename, no append**. S3-style stores have neither —
  * "rename" is a non-atomic copy+delete, and objects are immutable once
  * PUT. A storage design that relies on either silently corrupts under
  * concurrent readers the day it moves off HDFS.
  *
  * Backed by the local filesystem so specs can run it anywhere, registered
  * under the `objstore://` scheme via
  * `fs.objstore.impl = graft.storage.ObjectStoreFileSystem`
  * (+ `fs.objstore.impl.disable.cache = true` so each spec gets a fresh
  * instance). Any engine-level rename or append throws.
  *
  * One scoped allowance: paths under a `_temporary/` segment — Spark's
  * FileOutputCommitter workspace. Production object-store deployments
  * replace that committer with a zero-rename one via config (the S3A
  * committers in hadoop-aws, "magic"/"staging" — public Hadoop docs); that
  * is deployment wiring, not engine logic. The allowance keeps the stock
  * committer usable under test while still failing hard if the ENGINE
  * itself ever renames: engine paths never contain `_temporary`.
  */
class ObjectStoreFileSystem extends RawLocalFileSystem
    with VersionedPut {

  override def getScheme: String = "objstore"

  // constant: the superclass constructor calls getUri before subclass
  // field initializers run, so this must not read instance state
  override def getUri: URI = ObjectStoreFileSystem.SchemeUri

  override def rename(src: Path, dst: Path): Boolean = {
    val inCommitterWorkspace =
      src.toUri.getPath.contains("_temporary") ||
        dst.toUri.getPath.contains("_temporary")
    if (!inCommitterWorkspace)
      throw new UnsupportedOperationException(
        s"object-store semantics: rename is not available ($src -> $dst); " +
          "commit via a new object + pointer PUT instead")
    super.rename(src, dst)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    throw new UnsupportedOperationException(
      s"object-store semantics: append is not available ($f); " +
        "objects are immutable — write a new object")

  private def key(p: Path): String = p.toUri.getPath

  // metadata-RPC accounting for specs: per-object HEAD calls on DATA
  // files (`part-…`) — the serve paths must not pay one per bucket file.
  // RawLocalFileSystem implements listStatus as getFileStatus-per-child;
  // a real store's LIST returns metadata inline (one RPC per page), so
  // listing-internal stats are NOT counted as HEADs.
  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus = {
    if (p.getName.startsWith("part-") &&
        !ObjectStoreFileSystem.inListing.get())
      ObjectStoreFileSystem.dataFileStats.incrementAndGet()
    super.getFileStatus(p)
  }

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ObjectStoreFileSystem.inListing.set(true)
    try super.listStatus(p)
    finally ObjectStoreFileSystem.inListing.set(false)
  }

  override def versionOf(p: Path): Long =
    ObjectStoreFileSystem.lock.synchronized {
      if (!exists(p)) 0L
      else ObjectStoreFileSystem.versions.getOrElse(key(p), 1L)
    }

  override def putIfVersion(p: Path, bytes: Array[Byte],
      expectedVersion: Long): Boolean =
    ObjectStoreFileSystem.lock.synchronized {
      // create() bumps the version counter
      versionOf(p) == expectedVersion && {
        val out = create(p, true)
        try out.write(bytes) finally out.close()
        true
      }
    }

  // keep the version counter honest for UNCONDITIONAL overwrites too —
  // a plain PUT on a real store also changes the etag/generation
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    ObjectStoreFileSystem.lock.synchronized {
      val k = key(p)
      ObjectStoreFileSystem.versions.put(k,
        ObjectStoreFileSystem.versions.getOrElse(k, if (exists(p)) 1L else 0L)
          + 1L)
    }
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ObjectStoreFileSystem {
  val SchemeUri: URI = URI.create("objstore:///")
  // JVM-global (one "store" regardless of FS instance count — the specs
  // disable the Hadoop FS cache so every client gets a fresh instance)
  private[storage] val lock = new Object
  private[storage] val versions =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  /** HEAD calls on data files (see getFileStatus) — spec-visible. */
  val dataFileStats = new java.util.concurrent.atomic.AtomicLong
  private[storage] val inListing =
    new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }
}

/** Conditional-PUT + object-version surface a real object store offers
  * (S3 If-Match/If-None-Match etags, GCS generation preconditions, Azure
  * ETag conditions — all public APIs). The engine's commit points use it
  * when the FileSystem provides it: read the version, decide, PUT
  * expecting that version — a lost race fails LOUDLY instead of
  * last-write-wins corrupting the manifest chain. Plain filesystems
  * (local, HDFS) don't implement it; there the single-writer discipline
  * is the documented contract. */
trait VersionedPut {
  /** Current version of the object (0 = absent; monotone per PUT). */
  def versionOf(p: Path): Long
  /** Atomic compare-and-PUT: writes iff the current version equals
    * `expectedVersion` (pass 0 to require absence). */
  def putIfVersion(p: Path, bytes: Array[Byte],
      expectedVersion: Long): Boolean
}
