// Hadoop's `file:` file system without a process start per file.
//
// Without the native Hadoop library, RawLocalFileSystem forks `chmod`
// for every file and directory it creates and `readlink` for every
// getFileLinkStatus (FileContext's rename calls it several times per
// checkpoint file). Raw makes both calls through java.nio instead and
// hands Hadoop's own implementation the cases java.nio cannot express
// the same way. NioLocalFs (FileSystem API) and NioLocalFs.Fs
// (FileContext API) wrap Raw exactly as LocalFileSystem and LocalFs wrap
// RawLocalFileSystem, so .crc checksums and FileContext's atomic
// no-overwrite rename are unchanged.
//
// nio-local-fs.jar next to this file is its compiled form;
// tests/test_nio_local_fs.py holds the rebuild command and checks that
// the jar matches this source.

package tidbcdc.jvm;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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

/** `fs.file.impl`: LocalFileSystem (checksummed) over Raw. */
public class NioLocalFs extends LocalFileSystem {
  public NioLocalFs() {
    super(new Raw());
  }

  /** RawLocalFileSystem with fork-free setPermission and getFileLinkStatus. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path path = pathToFile(p).toPath();
      int mode = (Integer) Files.getAttribute(path, "unix:mode");
      boolean dirKeepsIdBits = (mode & 0170000) == 0040000 && (mode & 06000) != 0;
      if (permission.getStickyBit() || dirKeepsIdBits) {
        // java.nio cannot write a sticky bit, and `chmod 0755` keeps a
        // directory's setuid/setgid bits where java.nio would clear them
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(
          permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
              + permission.getOtherAction().SYMBOL));
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // the same File as Hadoop's readlink call, so a qualified path is
      // never a link to either implementation
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: org.apache.hadoop.fs.local.LocalFs over Raw. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over Raw. */
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
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
