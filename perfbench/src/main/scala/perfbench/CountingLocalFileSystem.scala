package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path}

/** The local filesystem, counting each file open and directory listing as
  * a read operation in its FileSystem statistics: Hadoop's own local
  * filesystem counts bytes only. Traced runs install it as `fs.file.impl`
  * so the metadata reads of the program under test can be counted from
  * outside.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  @annotation.nowarn("cat=deprecation")
  private val readOps = FileSystem.getStatistics("file", classOf[CountingLocalFileSystem])

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementReadOps(1)
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementReadOps(1)
    super.listStatus(f)
  }
}
