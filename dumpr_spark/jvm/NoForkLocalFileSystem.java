package dumpr_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** The {@code file:} FileSystem: Hadoop's checksummed local filesystem over the no-fork raw one. */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }
}
