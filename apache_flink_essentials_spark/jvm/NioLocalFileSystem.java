package apache_flink_essentials_spark.jvm;

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
 * Hadoop's checksummed local file system, setting permissions in-process.
 * Without libhadoop, RawLocalFileSystem.setPermission forks a chmod for
 * every file it creates and every directory it makes; this sets the same
 * mode bits through java.nio. A sticky bit, which java.nio cannot set, and
 * a file store without POSIX attributes keep the stock path.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission b : PosixFilePermission.values()) {
        if ((mode & (0400 >> b.ordinal())) != 0) {
          bits.add(b);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
