package parquetstreamwriter.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed {@code fs.file.impl} over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
