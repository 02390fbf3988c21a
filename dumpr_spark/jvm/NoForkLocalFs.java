package dumpr_spark.jvm;

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
 * The {@code file:} AbstractFileSystem (FileContext): Hadoop's {@code LocalFs}
 * over the no-fork raw filesystem. {@code RawLocalFs} cannot be subclassed
 * (its constructors are package-private), so {@link Raw} repeats its overrides.
 */
public class NoForkLocalFs extends ChecksumFs {
  NoForkLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem(), conf,
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
