/*
 * Raw local file system that sets permission bits through java.nio.
 *
 * Hadoop's RawLocalFileSystem.setPermission uses NativeIO's chmod only
 * when the native library is loaded; otherwise it runs `chmod` in a
 * child process.  It is called on every non-append file create and
 * every new directory, so without native IO each local file write
 * starts a process.  This class sets the same nine rwx bits with
 * Files.setPosixFilePermissions instead; a mode with bits above 0777
 * (sticky) still goes to the parent.
 *
 * Build (from the repository root; the committed jar must match):
 *
 *   J=$(python -c 'import pyspark, os; print(os.path.dirname(pyspark.__file__))')/jars
 *   javac --release 17 -cp "$J"/hadoop-client-api-*.jar -d build/jvm \
 *       kafkastreaming_spark/jvm/*.java
 *   jar --create --date=2000-01-01T00:00:00Z \
 *       --file kafkastreaming_spark/jvm/nio-localfs.jar -C build/jvm .
 */
package kafkastreaming_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class NioRawLocalFileSystem extends RawLocalFileSystem {
  // Declared OWNER_READ .. OTHERS_EXECUTE, the order of bits 0400 .. 0001.
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> set = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        set.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), set);
  }
}
