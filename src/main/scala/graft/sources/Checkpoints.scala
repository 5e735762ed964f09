package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Try, Using}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-keyed parquet checkpointing — the reference's feather-cache
  * pattern (data_integration.ipynb c23:33-48), kept as a PIPELINE feature,
  * not an engine feature (SURVEY §4.1).
  *
  * `checkpoint(df, path, inputs)` reuses `path` only when it holds a
  * committed dataset (`_SUCCESS`) whose `_INPUTS` key matches the (path,
  * length, modification time) of every file under the `inputs` paths or
  * globs, names starting with `_` or `.` skipped. Otherwise it writes df,
  * then the key, so an interrupted write recomputes. It always returns the
  * on-disk DataFrame. A rewritten stage has new part-file names, so stages
  * reading it go stale too. The code computing df is not keyed.
  */
object Checkpoints {
  private def key(inputs: Seq[String])(implicit spark: SparkSession): String = {
    def files(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.getPath.getName.matches("[_.].*")) Nil
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files(fs, _))
      else Seq(st)
    val lines = inputs.flatMap { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(p)).toSeq.flatten.flatMap(files(fs, _))
    }.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n").distinct.sorted
    java.util.UUID.nameUUIDFromBytes(lines.mkString.getBytes(UTF_8)).toString
  }

  def checkpoint(df: => DataFrame, path: String, inputs: Seq[String])
                (implicit spark: SparkSession): DataFrame = {
    val keyFile = new Path(path, "_INPUTS")
    val fs = keyFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val k = key(inputs)
    val stored = Try(Using.resource(fs.open(keyFile))(in => new String(in.readAllBytes(), UTF_8)))
    if (!fs.exists(new Path(path, "_SUCCESS")) || !stored.toOption.contains(k)) {
      df.write.mode("overwrite").parquet(path)
      Using.resource(fs.create(keyFile, true))(_.write(k.getBytes(UTF_8)))
    }
    spark.read.parquet(path)
  }
}
