package graft.testfs

import java.io.IOException
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}

/** A local filesystem under the scheme `mockfsnodelete` whose `delete`
  * always throws — a store that refuses cleanup. Specs bind it for both
  * the FileSystem and the FileContext API ([[NoDeleteAfs]]) through the
  * Hadoop conf keys `fs.mockfsnodelete.impl` and
  * `fs.AbstractFileSystem.mockfsnodelete.impl`.
  */
class NoDeleteFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfsnodelete"
  override def getUri: URI = URI.create("mockfsnodelete:///")
  override def delete(p: Path, recursive: Boolean): Boolean =
    throw new IOException(s"delete refused: $p")
}

/** FileContext binding of [[NoDeleteFs]]. An overwriting rename replaces
  * the destination with one local rename instead of the default
  * delete-then-rename, so only explicit deletes fail.
  */
class NoDeleteAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoDeleteFs, conf, "mockfsnodelete", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (!fsImpl.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")
}
