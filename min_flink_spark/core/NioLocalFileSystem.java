package min_flink_spark.core;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermissions;

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
 * Hadoop's checksummed local file system without its two per-call child
 * processes. Without libhadoop, RawLocalFileSystem runs {@code chmod}
 * for every setPermission and {@code readlink} for every
 * getFileLinkStatus; each checkpoint file, state-store delta, checksum
 * file and sink part file pays several of them. {@link Raw} does both
 * through java.nio and changes nothing else, so the {@code .crc}
 * sidecars, permissions and FileContext's rename-without-overwrite are
 * Hadoop's own.
 *
 * <p>Registered as {@code fs.file.impl} (this class) and
 * {@code fs.AbstractFileSystem.file.impl} ({@link Fs}, the FileContext
 * twin that streaming checkpoints write through).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to rename onto an existing file, as Hive's
   * ProxyLocalFileSystem (LocalFileSystem plus this one override) does:
   * Spark's jars register it for {@code file:} after Hadoop's own, so it
   * is the file system this one replaces.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** RawLocalFileSystem with setPermission and getFileLinkStatus in java.nio. */
  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {  // PosixFilePermission has no sticky bit
        super.setPermission(p, permission);
        return;
      }
      String rwx = permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }

    /**
     * Hadoop's own logic (RawLocalFileSystem's deprecated link status,
     * the default) with the link read in-process. The argument is the one
     * Hadoop hands to {@code readlink}: {@code new File(f.toString())},
     * so a qualified {@code file:} path never resolves, as there.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      FileStatus link;
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        link = new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (target.isEmpty()) {
          throw e;
        }
        // a dangling link
        link = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      link.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri(), link.getPath(), link.getSymlink()));
      return link;
    }

    /** What {@code readlink f | trim} prints; "" for anything but a link. */
    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | InvalidPathException e) {
        return "";
      }
    }
  }

  /** The FileContext twin: LocalFs (a ChecksumFs) over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** RawLocalFs, delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
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
