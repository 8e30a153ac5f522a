package org.semanticcpp.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem ({@code fs.file.impl}) over {@link Raw}.
 *
 * <p>Without libhadoop, stock {@link RawLocalFileSystem} forks {@code chmod}
 * for every file and directory it creates and {@code readlink} for every
 * link-status lookup (each {@code FileContext} rename makes two). {@link Raw}
 * does both through {@code java.nio} in-process; everything else is
 * inherited unchanged.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} without process spawns. */
  public static class Raw extends RawLocalFileSystem {
    /** The same chmod(2) as Hadoop's {@code chmod} fork. Modes with
     * sticky or setuid bits, which java.nio cannot set, go to Hadoop. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if ((permission.toShort() & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // rwxr-x--- form: exactly the nine permission bits
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }

    /** A path that is not a symlink has the status it resolves to, which
     * is what Hadoop returns after its {@code readlink} finds no link.
     * Symlinks keep Hadoop's handling. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }
}
