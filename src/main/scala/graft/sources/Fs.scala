package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem helpers for the maintenance ops (compaction,
  * watermarks, warehouse listing). `java.nio.file` would silently
  * confine these to the driver's local disk; resolving the FileSystem
  * from the path + Hadoop conf makes the same code address HDFS / S3A /
  * local alike — on a 100 TB cluster these are exactly the ops that run
  * against the distributed store daily.
  */
object Fs {

  def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Names of non-hidden child directories (warehouse table listing). */
  def childDirs(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
  }

  def readSmallText(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = fileSystem(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Write via sibling temp file + overwrite-rename: atomic on HDFS and
    * posix local FS, so readers never observe a torn or missing file.
    */
  def writeSmallTextAtomic(spark: SparkSession, path: String, text: String): Unit = {
    val (fs, p) = fileSystem(spark, path)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val qtmp = fs.makeQualified(tmp)
    val fc = FileContext.getFileContext(qtmp.toUri, spark.sessionState.newHadoopConf())
    fc.rename(qtmp, fs.makeQualified(p), Options.Rename.OVERWRITE)
  }

  /** Delete a file or directory tree on the driver's local disk (work
    * dirs, staged fixtures).
    */
  def deleteLocal(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteLocal))
    f.delete(); ()
  }
}
