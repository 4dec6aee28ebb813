package graft.sources

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path

/** A Hadoop `FileSystem` with OBJECT-STORE semantics (`objstore://`) — the
  * fault-injection surface VersionedStore's commit protocol is claimed to
  * survive, so the claim can be wire-tested instead of argued
  * (the reference's real sink is S3 Object Storage, yq_dag.py:16-19 /
  * img/YQLink2.png; this repo otherwise only ever meets `file://`).
  *
  * Faithful to what modern S3 actually guarantees (strong read-after-write
  * consistency since 2020 — list lag is NOT emulated because it no longer
  * exists), and to what it does NOT:
  *
  *  - **No rename verb.** `rename(src, dst)` is emulated exactly as S3A
  *    does it: one server-side COPY per object, then the source objects
  *    are deleted. Each single-object PUT is atomic (implemented here as
  *    temp-file + `ATOMIC_MOVE`, mirroring S3's atomic object-replace),
  *    but the SEQUENCE is not — a crash mid-rename leaves some objects
  *    copied, some not. An injectable crash point
  *    ([[ObjectStoreFileSystem.armRenameCrash]]) makes that window
  *    deterministic for specs: it fires only on renames into the armed
  *    path prefix, after the configured number of object copies, so
  *    Spark's own committer renames (which also run through this code)
  *    are unaffected.
  *  - **No append.** `append` throws, as on any object store.
  *
  * Everything else delegates to [[NioRawLocalFileSystem]] (objects are plain
  * local files, written without a `chmod` process per object; the raw
  * filesystem rather than the checksummed one so no `.crc` shadow files
  * muddy directory listings). Register with
  * `hadoopConf.set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)`
  * and address data as `objstore:///abs/path` — Spark's parquet
  * reader/writer, the committer, and VersionedStore then run unmodified
  * against rename-less storage.
  */
final class ObjectStoreFileSystem extends NioRawLocalFileSystem {
  import ObjectStoreFileSystem._

  override def getScheme: String = "objstore"
  override def getUri: URI = URI.create("objstore:///")

  override def append(p: Path, bufferSize: Int,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    throw new IOException("objstore: object stores do not support append")

  /** `listFiles(recursive = true)` is a first-class object-store verb (S3A
    * serves it from one flat paged LIST), and `VersionedStore` leans on it
    * to read all `_committed` markers in a single listing. The inherited
    * default builds `LocatedFileStatus` from `RawLocalFileSystem`'s
    * deprecated lazily-permission-loading statuses, which choke on the
    * `objstore://` scheme — materialize the statuses here instead (object
    * stores have no permissions or block locations anyway).
    */
  override def listLocatedStatus(p: Path): org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val sts = listStatus(p)
    new org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] {
      private var i = 0
      override def hasNext: Boolean = i < sts.length
      override def next(): org.apache.hadoop.fs.LocatedFileStatus = {
        val st = sts(i); i += 1
        new org.apache.hadoop.fs.LocatedFileStatus(
          st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, null, null, null, null,
          st.getPath, null)
      }
    }
  }

  /** Conditional create — the S3 If-None-Match PUT. `RawLocalFileSystem`'s
    * inherited `create(overwrite = false)` is a NON-atomic exists() check
    * followed by a truncating open, so two racing claim writers could both
    * "win" the create and the commit protocol's CAS would silently admit
    * two winners (r15 review finding). Reserve the name with an atomic
    * O_EXCL `Files.createFile` first — exactly one caller survives — then
    * open the stream over the reservation. Fidelity note: real S3 makes
    * the object visible atomically at PUT completion; this emulation (like
    * HDFS create-then-write) exposes an empty object between reserve and
    * close — the crash window `recoverClaims` refuses loudly
    * (`ObjectStoreSpec` "zero-byte claim").
    *
    * BOTH public create overloads must carry the reservation: the
    * convenience `FileSystem.create(path, overwrite)` callers (including
    * `VersionedStore.createClaimNonPosix`) dispatch to the 6-arg
    * `create(Path, boolean, int, short, long, Progressable)`, which
    * `RawLocalFileSystem` overrides and routes to a PRIVATE 8-arg create
    * via invokespecial — never reaching the 7-arg FsPermission variant
    * below (r16 review finding: overriding only the 7-arg form left the
    * claim path on the non-atomic inherited code).
    */
  private def reserveIfConditional(f: Path, overwrite: Boolean): Unit = {
    if (!overwrite) {
      val file = pathToFile(f)
      Option(file.getParentFile).foreach(_.mkdirs())
      try Files.createFile(file.toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"objstore: conditional PUT lost - $f already exists")
      }
    }
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    reserveIfConditional(f, overwrite)
    // the reservation holds the name; the stream truncates our own file
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    reserveIfConditional(f, overwrite)
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  }

  /** `createNonRecursive` is a third public entry into the same
    * exists-then-open flaw class (r16 advice): `RawLocalFileSystem`
    * implements it with its own non-atomic overwrite check, so a future
    * caller using `createNonRecursive(overwrite = false)` for a claim
    * would silently lose conditional-PUT semantics. Both public overloads
    * reserve first and pass overwrite/OVERWRITE downward so the inherited
    * code never runs its own check (and cross-delegation between the
    * overloads can't double-reserve — the inner call always sees
    * overwrite = true).
    */
  override def createNonRecursive(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    reserveIfConditional(f, overwrite)
    super.createNonRecursive(f, permission, true, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    reserveIfConditional(f, flags.contains(org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    val fl = java.util.EnumSet.copyOf(flags)
    fl.add(org.apache.hadoop.fs.CreateFlag.OVERWRITE)
    super.createNonRecursive(f, permission, fl, bufferSize, replication, blockSize, progress)
  }

  /** S3A-shaped rename: copy every object under `src` to its `dst`
    * counterpart (all copies first), then delete the source tree. Hadoop
    * rename semantics preserved as S3A implements them: existing-directory
    * dst means "move src INTO dst"; an existing-FILE dst makes rename
    * return false (S3A checks and refuses — it mimics HDFS, even though a
    * raw S3 PUT would overwrite; callers needing replace do
    * delete-then-rename, as [[VersionedStore]]'s pointer commit does).
    */
  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src)) return false
    val target =
      if (exists(dst) && getFileStatus(dst).isDirectory) new Path(dst, src.getName)
      else dst
    if (exists(target) && getFileStatus(target).isFile) return false
    val armed = {
      val a = crashDstPrefix
      a != null && target.toUri.getPath.startsWith(a)
    }
    var copied = 0
    def copyTree(s: Path, d: Path): Unit = {
      if (getFileStatus(s).isDirectory) {
        mkdirs(d)
        listStatus(s).sortBy(_.getPath.getName)
          .foreach(c => copyTree(c.getPath, new Path(d, c.getPath.getName)))
      } else {
        if (armed && copied >= crashAfterCopies)
          throw new IOException(
            s"objstore: injected crash mid-rename after $copied object copies ($s -> $d)")
        putObject(pathToFile(s), pathToFile(d))
        copied += 1
      }
    }
    copyTree(src, target)
    delete(src, true)
    true
  }

  /** One atomic object PUT: bytes land under a hidden temp name, then an
    * OS-atomic move replaces the destination — no reader ever observes a
    * truncated or half-written object, exactly S3's per-object guarantee.
    */
  private def putObject(src: File, dst: File): Unit = {
    dst.getParentFile.mkdirs()
    val tmp = new File(dst.getParentFile, s".put-${java.util.UUID.randomUUID()}")
    Files.copy(src.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, dst.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

object ObjectStoreFileSystem {
  @volatile private var crashDstPrefix: String = null
  @volatile private var crashAfterCopies: Int = Int.MaxValue

  /** Arm the next rename whose destination path starts with `dstPrefix`
    * to throw after `afterCopies` successful object copies (0 = before
    * any object lands). Disarm with [[clearFaults]].
    */
  def armRenameCrash(dstPrefix: String, afterCopies: Int): Unit = {
    crashAfterCopies = afterCopies
    crashDstPrefix = dstPrefix
  }

  def clearFaults(): Unit = {
    crashDstPrefix = null
    crashAfterCopies = Int.MaxValue
  }
}
