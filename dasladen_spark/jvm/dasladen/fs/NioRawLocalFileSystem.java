package dasladen.fs;

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
 * {@link RawLocalFileSystem} that sets permissions and reads link status
 * without starting a process. Without libhadoop the stock class runs
 * {@code chmod} for every file, checksum file and directory it creates,
 * and {@code readlink} for every link-status lookup.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  // PosixFilePermission.values() runs OWNER_READ .. OTHERS_EXECUTE,
  // i.e. mode bit 0400 down to 0001
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    java.nio.file.Path file = pathToFile(p).toPath();
    if ((mode & ~0777) != 0 || isDirWithSetId(file)) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    // follows a symlink, as chmod does
    Files.setPosixFilePermissions(file, perms);
  }

  /**
   * java.nio spells no sticky, setuid or setgid bit, so a mode with one
   * goes to chmod. So does a directory that has setuid or setgid (one
   * created under a setgid directory inherits it): an octal chmod keeps
   * those bits on a directory, chmod(2) would clear them.
   */
  private static boolean isDirWithSetId(java.nio.file.Path file) throws IOException {
    int st = (Integer) Files.getAttribute(file, "unix:mode");
    return (st & 0170000) == 0040000 && (st & 06000) != 0;
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the stock lookup forks readlink to learn what this one test tells
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
