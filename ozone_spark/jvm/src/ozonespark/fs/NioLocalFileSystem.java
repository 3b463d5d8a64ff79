package ozonespark.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * `fs.file.impl`: Hadoop's checksummed local file system (it still
 * writes and verifies the `.crc` files) over NioRawLocalFileSystem.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
