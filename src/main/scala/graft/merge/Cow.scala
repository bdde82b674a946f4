package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.log.AddFile

/** Shared copy-on-write plumbing for the merge and DML executors:
  * physical-file discovery from `input_file_name()` output, one
  * implementation so path decoding cannot drift between the commands.
  * Both retry conflicts with [[graft.io.GraftWriter.retryDerived]].
  */
private[merge] object Cow {

  /** The subset of `candidates` whose physical file appears in `df`'s
    * `fileCol` (absolute `input_file_name()` URIs are normalized back to
    * table-relative paths). Driver-side collect of file PATHS only —
    * metadata-scale, same shape as Delta's touched-file discovery.
    */
  def touchedFiles(
      spark: SparkSession,
      path: String,
      candidates: Seq[AddFile],
      df: DataFrame,
      fileCol: String): Seq[AddFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val rootAbs = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      .toUri.getPath.stripSuffix("/")
    val seen = df.select(fileCol).distinct().collect().map { r =>
      new java.net.URI(r.getString(0)).getPath
    }.toSet
    // a candidate path is table-relative normally, but ABSOLUTE for a
    // branch-seeded reference to another table's file (see
    // BranchingCoordinator's metadata-only seeding) — resolve both forms
    // to absolute before matching, or COW on a seeded branch silently
    // touches nothing
    candidates.filter { f =>
      val hp = new org.apache.hadoop.fs.Path(f.path)
      // strip any scheme/authority (a shallow clone's refs are
      // FS-qualified, e.g. `file:/...`) — `seen` holds bare URI paths
      val abs = if (hp.isAbsolute || hp.toUri.getScheme != null) hp.toUri.getPath
        else s"$rootAbs/${f.path}"
      seen(abs)
    }
  }
}
