package kinesis_to_s3.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} FileSystem with its permissions set by a system call.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks
 * {@code chmod} for every file and directory it creates, and
 * {@code FileContext} renames fork {@code readlink} for every path they
 * check. {@link Raw} sets the nine rwx bits through {@code java.nio}
 * instead, and looks for symlinks there too. Modes beyond
 * {@code 0777} (sticky, setuid, setgid) and file systems without POSIX
 * attributes keep the stock path. The checksum layer is the stock one, so
 * {@code .crc} sidecars and their verification are unchanged. {@link Fs} is
 * the same for {@code FileContext} (Hadoop's {@code LocalFs}).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with {@code setPermission} through NIO. */
  public static class Raw extends RawLocalFileSystem {
    /** {@code PosixFilePermission.values()} in order, owner read first. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // no POSIX attributes here: the stock path below
        }
      }
      super.setPermission(p, permission);
    }

    /** Only a symlink needs the stock {@code readlink}: others are plain statuses. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** {@code LocalFs} over {@link Raw}: the {@code fs.AbstractFileSystem.file.impl}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** {@code RawLocalFs} over {@link Raw}, with its overrides. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
