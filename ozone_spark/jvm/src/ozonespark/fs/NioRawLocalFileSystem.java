package ozonespark.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's raw local file system with one change: without the native
 * library, the stock setPermission forks `chmod` for every file and
 * directory a write creates; this one sets the same nine mode bits
 * in-process through java.nio.  A native library, the sticky bit (which
 * java.nio cannot express) and a file store without POSIX attributes
 * take the stock path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (NativeIO.isAvailable() || permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    try {
      // without the sticky bit, toString() is the nine `rwxr-x---` bits
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }
}
