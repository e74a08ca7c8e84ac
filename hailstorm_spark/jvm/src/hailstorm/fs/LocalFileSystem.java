package hailstorm.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;
import org.apache.hadoop.util.Shell;

/**
 * The checksummed {@code file://} filesystem over {@link Raw}: Hadoop's
 * LocalFileSystem without a forked process per create, mkdir or rename
 * when the native Hadoop library is missing.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  public LocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with two calls made in-process. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /**
     * The stock call forks {@code chmod}. The nine rwx bits are set with
     * java.nio instead; other bits, Windows and native Hadoop go to super.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0 || Shell.WINDOWS || NativeIO.isAvailable()) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);  // OWNER_READ ... OTHERS_EXECUTE
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * The stock call forks {@code readlink}, then returns
     * {@code getFileStatus(f)} for anything that is not a link; only
     * real links go to super.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }
}
