package pdf_to_opensearch_spark.jvm;

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
 * Hadoop's checksummed local file system, with file modes set in-process.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem} sets the
 * mode of every file and directory it creates by running a {@code chmod}
 * subprocess: a Spark parquet write starts one per task attempt directory,
 * one per part file and one per {@code _temporary} level (235 in one
 * 15-second perfbench online run). Each start forks the driver JVM, costs
 * milliseconds of write latency, and while the child has not exec'd yet it
 * shows the JVM's whole resident set, so a sampler that sums the RSS of the
 * process tree counts the JVM twice. This class sets the same modes through
 * {@link Files#setPosixFilePermissions}; everything else, checksum files
 * included, is the stock {@link LocalFileSystem}.
 *
 * <p>Selected with {@code fs.file.impl}; see {@code session.get_spark}.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {
  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} whose {@code setPermission} forks nothing. */
  public static class Raw extends RawLocalFileSystem {
    // bit i of FsPermission.toShort(), lowest first; the sticky bit has no
    // PosixFilePermission, and no local write of Spark's asks for it
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ};

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      Set<PosixFilePermission> mode = EnumSet.noneOf(PosixFilePermission.class);
      short bits = permission.toShort();
      for (int i = 0; i < BITS.length; i++) {
        if ((bits & (1 << i)) != 0) {
          mode.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), mode);
    }
  }
}
