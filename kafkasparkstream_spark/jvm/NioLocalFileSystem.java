// Hadoop's local file system without a child process per file operation.
// Build: scripts/build_localfs_jar.sh (the jar beside this file is committed).
package kafkasparkstream_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/** {@code fs.file.impl}: the checksummed local file system over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}

/**
 * Without Hadoop's native library, {@code setPermission} forks {@code chmod} and
 * {@code getFileLinkStatus} forks {@code readlink}; here both stay in the JVM.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) { // sticky bit: only chmod sets it
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) { // OWNER_READ (0400) first
      if ((mode & (0400 >> bit.ordinal())) != 0) {
        perms.add(bit);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    return Files.isSymbolicLink(pathToFile(f).toPath())
        ? super.getFileLinkStatus(f) : getFileStatus(f);
  }
}

/** {@code fs.AbstractFileSystem.file.impl}: {@code RawLocalFs} over {@link NioRawLocalFileSystem}. */
class NioRawLocalFs extends DelegateToFileSystem {
  NioRawLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new NioRawLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
  }

  @Override
  public int getUriDefaultPort() {
    return -1;
  }

  @Override
  @Deprecated
  public FsServerDefaults getServerDefaults() throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public FsServerDefaults getServerDefaults(Path f) throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public boolean isValidName(String src) {
    return true;
  }
}
