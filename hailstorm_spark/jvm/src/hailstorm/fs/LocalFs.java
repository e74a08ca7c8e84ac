package hailstorm.fs;

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
 * The {@code FileContext} twin of {@link LocalFileSystem}: Hadoop's
 * LocalFs (ChecksumFs over RawLocalFs) with {@link LocalFileSystem.Raw}
 * underneath.
 */
public class LocalFs extends ChecksumFs {
  public LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new RawFs(conf));  // always file:///, as in Hadoop's LocalFs
  }

  /** org.apache.hadoop.fs.local.RawLocalFs, whose constructors are package-private. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new LocalFileSystem.Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;  // no default port for file:///
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
      return true;  // any path is valid locally
    }
  }
}
