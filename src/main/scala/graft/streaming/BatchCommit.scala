package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** The batch-keyed exactly-once file-commit machinery shared by the
  * streaming ingest sinks ([[CorpusIngest]], [[FrontierIngest]]):
  * staging writes move into live directories under deterministic
  * `batch<id>-` names and are sealed by a `_committed-batch-<id>`
  * marker (hidden from Spark's file index by the underscore). A
  * replayed batch whose marker exists is a no-op; a replay after a
  * mid-commit crash first deletes the partial `batch<id>-*` residue —
  * so the recompute sees exactly the pre-batch state — then redoes
  * the batch. The marker rename is the single commit point.
  */
private[streaming] object BatchCommit {

  def batchPrefix(id: Long): String = s"batch$id-"

  /** Delete this batch's files from a live dir — the partial residue of
    * a commit that crashed between file moves.
    */
  def cleanBatchFiles(fs: FileSystem, dir: Path, id: Long): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.startsWith(batchPrefix(id)))
          fs.delete(st.getPath, false): Unit
      }

  /** Move staging data files into the live dir under deterministic
    * batch-keyed names, then drop the staging dir. Deterministic names
    * make a retried move idempotent after [[cleanBatchFiles]].
    */
  def moveIn(fs: FileSystem, staging: Path, dest: Path, id: Long): Unit = {
    fs.mkdirs(dest)
    graft.sources.Tables.dataFiles(fs, staging).map(_.getPath).zipWithIndex.foreach { case (src, i) =>
      val target = new Path(dest, s"${batchPrefix(id)}$i-${src.getName}")
      if (!fs.rename(src, target))
        throw new java.io.IOException(s"rename $src -> $target failed")
    }
    fs.delete(staging, true): Unit
  }

  def markerPath(dir: String, id: Long): Path =
    new Path(dir, s"_committed-batch-$id")

  /** The committed count a marker recorded, when the batch committed. */
  def readMarker(fs: FileSystem, marker: Path): Long = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in).mkString.trim.toLong
    finally in.close()
  }

  /** Seal a batch: the marker appears only with its full content
    * (create+write is NOT atomic — a crash mid-write would leave an
    * existing-but-empty marker that poisons every replay), so the
    * content writes to a dot-tmp sibling and a rename publishes it.
    */
  def writeMarker(fs: FileSystem, dir: String, id: Long, n: Long): Unit = {
    val marker = markerPath(dir, id)
    val tmpMarker = new Path(dir, s".committing-batch-$id")
    fs.delete(tmpMarker, false)
    val out = fs.create(tmpMarker, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmpMarker, marker))
      throw new java.io.IOException(s"commit rename $tmpMarker -> $marker failed")
  }
}
