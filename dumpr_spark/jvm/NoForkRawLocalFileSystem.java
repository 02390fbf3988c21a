package dumpr_spark.jvm;

import java.io.File;
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
 * Hadoop's raw local filesystem with the two shell forks it makes without
 * libhadoop replaced by the same syscalls in-process: {@code chmod} on every
 * create, mkdir and setPermission, and {@code readlink} on every link-status
 * lookup (each FileContext rename makes several).
 */
public class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  // PosixFilePermission's order is owner rwx, group rwx, others rwx: bit 8 down to 0
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) {  // sticky bit: only the shell path sets it
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /**
   * The stock method runs {@code readlink} on {@code new File(f.toString())}
   * and, when that prints nothing, returns {@code getFileStatus(f)}. For a
   * qualified {@code file:/...} path that file never exists, so only a real
   * link on the same {@code File} needs the stock path.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
