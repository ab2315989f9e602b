package dasladen.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed {@link LocalFileSystem} over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
