package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, PosixFilePermissions, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system every graft JVM serves `file:` URIs with:
  * Hadoop's own, with the calls that fork a process done in-process.
  *
  * Without a native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * for every `setPermission` (so for every create and mkdir with a
  * permission), `readlink` for every link status (so twice per
  * `FileContext.rename`) and `ls -ld` for the permission, owner or group
  * of every status (so per file of a `LocatedFileStatus` listing). Each
  * fork costs milliseconds, and a streaming batch's checkpoint commits
  * and a small write's task commits are dozens of them. [[LocalFs.Raw]]
  * does the same through `java.nio.file`; everything else, including
  * `.crc` side files, umask application and a rename onto an existing
  * directory nesting the source inside it, is Hadoop's code.
  *
  * `src/main/resources/core-site.xml` registers this class as
  * `fs.file.impl` and [[LocalAbstractFs]] as
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` side, which
  * streaming checkpoints use), so every Hadoop `Configuration` on a
  * classpath with graft's resources first loads them. Extending
  * `LocalFileSystem` keeps `FileSystem.getLocal` callers working.
  *
  * Without this registration `file:` goes to the last `file` provider
  * on the classpath, which among Spark's jars is Hive's
  * `ProxyLocalFileSystem`: a `LocalFileSystem` whose rename onto an
  * existing file fails instead of replacing it. [[rename]] keeps that. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `FileContext`'s `file:` file system: Hadoop's `LocalFs` shape
  * (`ChecksumFs` over a `DelegateToFileSystem`) around [[LocalFs.Raw]].
  * Like Hadoop's, it serves `file:///` whatever `uri` it is made for;
  * `AbstractFileSystem` constructs it through this signature. */
class LocalAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawAbstractFs(conf)) {
  override def getUriDefaultPort: Int = -1
}

object LocalFs {

  /** What `ls -ld` and `java.io.File` give, read with one `stat`
    * (`unix:mode` keeps the sticky bit, which `PosixFileAttributes`
    * drops). */
  private val Attributes =
    "unix:mode,owner,group,isDirectory,size,lastModifiedTime,lastAccessTime"
  private val SetIds = 0xc00 // 06000: setuid and setgid
  private val PermissionBits = 0x3ff // 01777: what `ls -ld` shows, sticky bit included

  /** `RawLocalFileSystem` without the shell. Statuses match the stock
    * ones field for field; a link's carries its target's size, times,
    * mode, owner and group, as the stock one runs `ls -ld` on the
    * canonical path.
    * One difference: the stock link status passes the path's string to
    * `readlink`, so a `file:`-qualified link reads as its target there;
    * here a link is a link whatever form its path takes. */
  class Raw extends RawLocalFileSystem {

    private var blockSize = 0L

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      blockSize = getDefaultBlockSize(new Path(uri))
    }

    /** `chmod(2)` for the nine permission bits. A sticky bit, and a
      * file with setuid or setgid set (the stock `chmod 0nnn` keeps a
      * directory's, `chmod(2)` would clear them), go the stock way. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIds) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
    }

    /** Any failed `stat` is a missing file, as `File.exists` reads it. */
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val attrs = try Files.readAttributes(file.toPath, Attributes)
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
      def millis(key: String) = attrs.get(key).asInstanceOf[FileTime].toMillis
      def name(key: String) = attrs.get(key).asInstanceOf[UserPrincipal].getName
      new FileStatus(attrs.get("size").asInstanceOf[Long], attrs.get("isDirectory") == true,
        1, blockSize, millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((attrs.get("mode").asInstanceOf[Int] & PermissionBits).toShort),
        name("owner"), name("group"),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    /** A directory's entries already come from [[getFileStatus]]; a
      * file's status would otherwise be the stock lazy one. */
    override def listStatus(f: Path): Array[FileStatus] =
      if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** The stock unqualified link status: a link's target's status
      * with the link's path and target, or a placeholder for a
      * dangling link. */
    private def linkStatus(f: Path): FileStatus = {
      val file = pathToFile(f).toPath
      if (!Files.isSymbolicLink(file)) return getFileStatus(f)
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  /** Hadoop's `RawLocalFs` around [[Raw]]. */
  private[sources] class RawAbstractFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
