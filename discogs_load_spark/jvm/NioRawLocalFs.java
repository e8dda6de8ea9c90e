package discogs_load_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/** Hadoop's {@code RawLocalFs} (whose constructors are package-private)
 * over {@link NioRawLocalFileSystem}. */
public class NioRawLocalFs extends DelegateToFileSystem {
  public NioRawLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new NioRawLocalFileSystem(), conf, "file", false);
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
