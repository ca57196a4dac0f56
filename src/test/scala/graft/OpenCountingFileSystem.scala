package graft

import org.apache.hadoop.fs.{FSDataInputStream, Path}

/** The local file system under the `opencount` scheme, counting the opens
  * of each path: a test that reads a tree as `opencount://<absolute path>`
  * (with `fs.opencount.impl` set to this class) sees how often each file
  * was opened. Its statuses are the fork-free ones the `file:` scheme
  * lists, which also load no permission through a `file:` URI. */
class OpenCountingFileSystem extends graft.sources.NioRawLocalFileSystem {
  override def getUri: java.net.URI = OpenCountingFileSystem.Uri

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFileSystem.opens.merge(f.toUri.getPath, 1,
      (a: Integer, b: Integer) => Integer.valueOf(a + b))
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  val Scheme = "opencount"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  /** Opens per absolute path, since the last `clear()`. */
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
