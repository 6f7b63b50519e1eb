// Hadoop's checksummed local file system, minus the chmod process per write.
//
// Without the native Hadoop library RawLocalFileSystem.setPermission runs
// `chmod` in a child process, and every file created on `file:` is chmod'ed
// (under ChecksumFileSystem, its .crc too). This raw layer sets the same nine
// rwx bits with Files.setPosixFilePermissions instead, and leaves the
// native, sticky-bit and non-POSIX cases to Hadoop.
//
// Build (tests/test_local_fs.py checks the jar's classes against this file):
//   javac --release 17 -cp "$SPARK_HOME"/jars/hadoop-client-api-*.jar -d classes NioLocalFileSystem.java
//   jar --create --date=2026-01-01T00:00:00Z --file nio-local-fs.jar -C classes .
package sparkstreamingrealtimedatawithkafka_spark.jvm;

import java.io.IOException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    private static final boolean POSIX =
        FileSystems.getDefault().supportedFileAttributeViews().contains("posix");

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (NativeIO.isAvailable() || !POSIX || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      // Not permission.toString(): create() passes an FsCreateModes, which
      // prints its masked and unmasked modes.
      String rwx = permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }
  }
}
