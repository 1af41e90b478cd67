package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one rule for which entries of a dataset directory hold data:
  * Hadoop's hidden-path convention. Names starting with `_` or `.` are
  * metadata (`_SUCCESS`, the `_meta_params` / `_bloom` store sidecars,
  * `.crc` checksums, `_temporary`); every other name is data. Sinks
  * count and stores compact by this rule, so the two never disagree on
  * what a file is.
  */
object DataFiles {

  def isData(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Data files directly under `dir`; none when `dir` does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => st.isFile && isData(st.getPath.getName))
}
