package localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;

/**
 * The FileContext twin of {@link NioChmodLocalFileSystem}.
 *
 * <p>Writes through a {@code FileContext} (Structured Streaming's
 * checkpoint offsets, commits, metadata and state deltas, each with its
 * {@code .crc} file) go through {@code fs.AbstractFileSystem.file.impl},
 * not {@code fs.file.impl}; Hadoop's {@code LocalFs} there starts a
 * {@code chmod} process per file. This class is {@code LocalFs} with the
 * java.nio permission setter: a checksummed file system over the raw one
 * of {@link NioChmodLocalFileSystem}.
 */
public class NioChmodFs extends ChecksumFs {
  public NioChmodFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  public static class Raw extends DelegateToFileSystem {
    public Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioChmodLocalFileSystem.Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // file:/// has no port
    }
  }
}
