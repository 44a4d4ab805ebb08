package p_id_text_extraction_spark.jvm;

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
 * Hadoop's LocalFs (the file: AbstractFileSystem behind FileContext) over
 * NioLocalFileSystem's Raw, so its setPermission is one java.nio call too.
 * FileContext builds its own file system and does not read fs.file.impl;
 * Spark's streaming checkpoint writes its offsets, commits and source logs
 * through it.  RawFs overrides what Hadoop's RawLocalFs overrides, the same
 * way.
 */
public class NioLocalFs extends ChecksumFs {

  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new RawFs(conf));
  }

  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioLocalFileSystem.Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;  // no port
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
      return true;  // any local path name is valid
    }
  }
}
