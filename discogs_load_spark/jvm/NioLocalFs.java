package discogs_load_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/** {@code fs.AbstractFileSystem.file.impl} (FileContext): the checksummed
 * local file system over {@link NioRawLocalFs}, as Hadoop's {@code LocalFs}
 * is over {@code RawLocalFs}. */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
