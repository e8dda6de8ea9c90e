package discogs_load_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@code fs.file.impl}: the checksummed local file system (its
 * {@code .crc} sidecars kept) over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
