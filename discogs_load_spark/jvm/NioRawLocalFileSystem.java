package discogs_load_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local file system without a process per call. Without libhadoop,
 * {@link RawLocalFileSystem} forks {@code chmod} for every file and
 * directory it creates and {@code readlink} for every link-status lookup
 * (each FileContext rename). Both are done here through java.nio, with the
 * same outcome; a sticky bit (which java.nio cannot set) and a real
 * symbolic link still go through the superclass.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission perm : PosixFilePermission.values()) {
      // declared from OWNER_READ (mode bit 0400) to OTHERS_EXECUTE (01)
      if ((mode & (0400 >> perm.ordinal())) != 0) {
        perms.add(perm);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /**
   * For a path that is no symbolic link this is the file's status, and a
   * missing path throws the same FileNotFoundException: what the
   * superclass returns when {@code readlink} yields no target.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
