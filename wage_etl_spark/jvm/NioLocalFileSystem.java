package wage_etl_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem without child processes.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs
 * {@code chmod} in a new process for every file, {@code .crc} sidecar and
 * directory a write creates, and {@link RawLocalFileSystem#getFileLinkStatus}
 * runs {@code readlink} for every {@code FileContext} rename. {@link Raw}
 * answers both from {@code java.nio.file}: the same mode bits, the same
 * symlink answers. Everything else, checksums included, is the stock class.
 * Spark's bundled Hive registers {@code ProxyLocalFileSystem} as the
 * {@code file:} filesystem, whose rename refuses an existing destination
 * file; {@link #rename} keeps that answer.
 *
 * <p>{@code fs.file.impl} names this class (the checksummed
 * {@code FileSystem}); {@code fs.AbstractFileSystem.file.impl} names
 * {@link Fs} (the checksummed {@code FileContext} side, used by streaming
 * checkpoints).
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@code RawLocalFileSystem} with {@code java.nio.file} in place of Shell. */
  public static class Raw extends RawLocalFileSystem {

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // chmod's octal mode carries the sticky bit; PosixFilePermission does not
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), posix(permission));
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // RawLocalFileSystem reads the link of new File(f.toString()) with
      // `readlink` ("" when it is not a link) and stats f; same here
      String target = readLink(new File(f.toString()));
      FileStatus fi;
      try {
        FileStatus fs = getFileStatus(f);
        fi = target.isEmpty() ? fs : new FileStatus(fs.getLen(), false,
            fs.getReplication(), fs.getBlockSize(), fs.getModificationTime(),
            fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link
        if (target.isEmpty()) {
          throw e;
        }
        fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(),
            fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | UnsupportedOperationException | InvalidPathException e) {
        return "";
      }
    }

    /** The bits of the mode the stock code hands to chmod ({@code toShort}). */
    private static Set<PosixFilePermission> posix(FsPermission p) {
      Set<PosixFilePermission> s = EnumSet.noneOf(PosixFilePermission.class);
      // declared OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      for (PosixFilePermission b : PosixFilePermission.values()) {
        if ((p.toShort() & (0400 >> b.ordinal())) != 0) {
          s.add(b);
        }
      }
      return s;
    }
  }

  /** {@code LocalFs} over {@link Raw}: the checksummed FileContext side. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** {@code RawLocalFs} over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
