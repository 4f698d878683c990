package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem with permissions set through java.nio.
  * Without the native Hadoop library, Hadoop's local filesystem runs a
  * `chmod` process for every file and directory it creates: a data file,
  * its `.crc`, each partition dir and each commit-protocol temp dir. A
  * maintenance micro-batch writes a few hundred of those, so the forks,
  * not the bytes, set its write time. [[GraftSession.builder]] registers
  * this class for `file:`; with the native library present, or for a
  * sticky bit, it defers to Hadoop's own `setPermission`.
  *
  * It also makes a no-overwrite create atomic. Hadoop's local create
  * checks that the file is absent and then opens it, so two racing
  * creators can both succeed; the store lease and the writer claim
  * (`IndexMaintenance`) rely on exactly one of them winning, as it does
  * on HDFS.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) createNew(f)
      super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    }

    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) createNew(f)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    }

    /** Create `f` empty, failing if it exists, in one filesystem call. */
    private def createNew(f: Path): Unit = {
      Option(f.getParent).foreach(mkdirs)
      try Files.createFile(pathToFile(f).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
      ()
    }

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit)
        super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
          if (a.implies(FsAction.READ)) perms.add(r)
          if (a.implies(FsAction.WRITE)) perms.add(w)
          if (a.implies(FsAction.EXECUTE)) perms.add(x)
        }
        import PosixFilePermission._
        add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
        add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
        add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
        ()
      }
  }
}
