package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme of every graft session (`fs.file.impl`, set once in
  * [[graft.core.Graft.perfConfs]]): Hadoop's checksummed
  * [[LocalFileSystem]], `.crc` files and all, over a raw file system that
  * reads and sets POSIX modes through `java.nio` instead of a child
  * process.
  *
  * Without Hadoop's native library, the stock `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates (the permission of
  * each part file, its `.crc` and each `mkdirs`) and `ls -ld` for every
  * status whose permission is read (a `LocatedFileStatus` from
  * `listFiles` reads it). At about 5 ms a fork that is most of a small
  * partitioned write. Here:
  *  - `setPermission` calls `Files.setPosixFilePermissions`. A mode with
  *    setuid, setgid or sticky bits, requested or already on the file,
  *    goes to the stock path: NIO cannot express those bits, and GNU
  *    `chmod` keeps setgid on a directory;
  *  - statuses come back with permission, owner and group already loaded
  *    from one `stat`, with the mode bits the stock `ls -ld` parse gives
  *    (rwx plus sticky).
  *
  * Everything else, umask handling included, is the stock code, so files,
  * layout and mode bits are the same as before.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** setuid, setgid and sticky: octal 7000 (Scala has no octal literals). */
  private val SpecialBits = 0xe00

  /** NIO's permission set for the rwx bits of `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner rwx, group rwx, others rwx: ordinal i is bit 8 - i
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }

  class Raw extends RawLocalFileSystem {

    private def attrs(p: Path, names: String): java.util.Map[String, AnyRef] =
      try Files.readAttributes(pathToFile(p).toPath, s"unix:$names")
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val requested = permission.toShort.toInt
      val current = attrs(p, "mode").get("mode").asInstanceOf[Int]
      if (((requested | current) & SpecialBits) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(requested))
    }

    override def getFileStatus(p: Path): FileStatus = {
      val a = attrs(p, "mode,owner,group,size,isDirectory,lastModifiedTime,lastAccessTime")
      def at[T](k: String): T = a.get(k).asInstanceOf[T]
      new FileStatus(at[Long]("size"), at[Boolean]("isDirectory"), 1, getDefaultBlockSize(p),
        at[FileTime]("lastModifiedTime").toMillis, at[FileTime]("lastAccessTime").toMillis,
        // rwx plus sticky (octal 1777): the bits the stock `ls -ld` parse keeps
        new FsPermission((at[Int]("mode") & 0x3ff).toShort),
        at[UserPrincipal]("owner").getName, at[GroupPrincipal]("group").getName,
        new Path(pathToFile(p).getPath).makeQualified(getUri, getWorkingDirectory))
    }

    // the stock directory branch builds each entry through getFileStatus;
    // its single-file branch would build a lazily forking status instead
    override def listStatus(p: Path): Array[FileStatus] =
      if (pathToFile(p).isDirectory) super.listStatus(p) else Array(getFileStatus(p))
  }
}
