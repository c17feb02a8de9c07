package graft.testfs

import org.apache.hadoop.fs.RawLocalFileSystem
import java.net.URI

/** A local filesystem under the scheme `confonlyfs`, listed in no
  * FileSystem ServiceLoader file: Hadoop finds it only through the conf
  * key `fs.confonlyfs.impl`, the way `spark.hadoop.*` settings bind
  * object-store schemes on a cluster.
  */
class ConfOnlyFs extends RawLocalFileSystem {
  override def getScheme: String = "confonlyfs"
  override def getUri: URI = URI.create("confonlyfs:///")
}
