package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** A file's fingerprint: its path, length and modification time, read
  * with one metadata call and no data. Cached facts about a file's bytes
  * (its parquet footer, a stored query result) are keyed by it, so a
  * rewritten, replaced or deleted file misses. Blind spot: a file
  * rewritten with the same length within one modification-time tick
  * (1 ms on a local disk) keeps its fingerprint. */
private[graft] final case class FileKey(path: String, length: Long, modificationTime: Long)

private[graft] object FileKey {

  def apply(st: FileStatus): FileKey =
    FileKey(st.getPath.toString, st.getLen, st.getModificationTime)

  /** The file's fingerprint now; None once it is gone. */
  def stat(path: String, conf: Configuration): Option[FileKey] = {
    val p = new Path(path)
    try Some(FileKey(p.getFileSystem(conf).getFileStatus(p)))
    catch { case _: java.io.FileNotFoundException => None }
  }
}
