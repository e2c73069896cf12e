package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A test-only Hadoop FileSystem (`perm://`) over the local FS that
  * counts what a listing costs on the local store without native IO:
  * there, each permission, owner or group read of a listed status forks
  * `ls -ld`. Its `listStatus` returns statuses that count those reads
  * in [[PermCountFileSystem.reads]], and records every listed directory
  * in [[PermCountFileSystem.listed]]. Register with
  * `conf.set("fs.perm.impl", classOf[PermCountFileSystem].getName)`;
  * paths are `perm:///abs/path`.
  */
object PermCountFileSystem {
  val reads = new AtomicLong
  val listed = new ConcurrentLinkedQueue[String]()
  // A constant (not an instance field): RawLocalFileSystem's
  // constructor calls getUri before subclass fields initialize.
  private[PermCountFileSystem] val PermUri: URI = URI.create("perm:///")

  def reset(): Unit = { reads.set(0L); listed.clear() }

  /** A listed status whose permission, owner and group reads count. */
  private final class Counted(st: FileStatus) extends FileStatus(
      st.getLen, st.isDirectory, 1, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, FsPermission.createImmutable(0x1ff.toShort),
      "graft", "graft", st.getPath) {
    override def getPermission: FsPermission = { reads.incrementAndGet(); super.getPermission }
    override def getOwner: String = { reads.incrementAndGet(); super.getOwner }
    override def getGroup: String = { reads.incrementAndGet(); super.getGroup }
  }
}

class PermCountFileSystem extends RawLocalFileSystem {
  import PermCountFileSystem._

  override def getScheme: String = "perm"
  override def getUri: URI = PermUri

  override def listStatus(f: Path): Array[FileStatus] = {
    listed.add(makeQualified(f).toUri.getPath)
    super.listStatus(f).map(st => new Counted(st): FileStatus)
  }
}
