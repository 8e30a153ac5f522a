package org.semanticcpp.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The {@code FileContext} binding of {@link NioLocalFileSystem}
 * ({@code fs.AbstractFileSystem.file.impl}): Hadoop's {@code LocalFs} with
 * {@link NioLocalFileSystem.Raw} in place of {@code RawLocalFileSystem}.
 * Streaming checkpoints (offsets, commits, state stores) go through here.
 */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new RawFs(conf));
  }

  /** Hadoop's {@code RawLocalFs}, delegating to {@link NioLocalFileSystem.Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioLocalFileSystem.Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
}
