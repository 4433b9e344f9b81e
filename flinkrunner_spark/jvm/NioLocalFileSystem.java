package flinkrunner_spark.jvm;

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
 * Hadoop's checksummed {@link LocalFileSystem} for {@code file:} paths,
 * over a raw filesystem that sets permissions without forking a process.
 *
 * <p>Without {@code libhadoop}, {@link RawLocalFileSystem#setPermission}
 * runs {@code chmod} through {@code Shell.execCommand}, and every file
 * create and every directory made pays that fork. Here the rwx bits are
 * set with {@link Files#setPosixFilePermissions}, which follows symlinks
 * as {@code chmod} does. A permission with the sticky bit, which nio
 * cannot set, still goes through Hadoop's own path. Checksums
 * ({@code .crc} files), renames and everything else are Hadoop's.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  /** {@link RawLocalFileSystem} with only {@code setPermission} replaced. */
  public static class NioRawLocalFileSystem extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE,
      PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
