package statsspark.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, setting permissions with a
 * syscall instead of a child process.
 *
 * Without Hadoop's native library, RawLocalFileSystem.setPermission runs
 * a chmod process for every directory it creates and every file it opens
 * with a permission (part files, their .crc files, _SUCCESS).  This sets
 * the same rwx bits with Files.setPosixFilePermissions.  A mode with bits
 * beyond 0777 (the sticky bit) still goes through the stock method, so
 * every resulting mode is the stock one.
 */
public class NoSpawnLocalFileSystem extends LocalFileSystem {
  public NoSpawnLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // declared OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
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
  }
}
