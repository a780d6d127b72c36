package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, GlobFilter, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one module that opens parquet footers: [[read]], every
  * schemaless parquet read in the engine. Spark's own `spark.read.parquet`
  * infers a schema with a one-task job that opens a single footer (58-78
  * ms of scheduling and driver round trip per read, warm local[4] JVM on
  * a 4-cpu host); [[read]] opens that same footer on the driver (4-7 ms
  * there) and hands the schema to `spark.read.schema`. */
object ParquetFooters {

  /** `spark.read.parquet(paths: _*)` with the schema read on the driver.
    *
    * The schema comes from the footer of the file Spark's inference
    * reads when `mergeSchema` is off and no summary file exists (the
    * engine writes none): the first by path among the files Spark's file
    * index would list. It goes through the same
    * `ParquetFileFormat.readSchemaFromFooter` call and a
    * `ParquetToSparkSchemaConverter` built from the session conf, so the
    * frame has exactly the schema `spark.read.parquet` infers: Spark
    * makes file-source data schemas nullable either way, and still takes
    * partition columns (`year=`/`month=` directories) from the paths.
    * When the paths hold no data file this is `spark.read.parquet`
    * itself, so a missing or empty tree fails with Spark's own error. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    readWith(spark, spark.sessionState.conf, None, paths)

  /** [[read]] with the footer's types converted under `conf` instead of
    * the session's (the session conf is never written), and, when `glob`
    * is set, only files whose names match it (Spark's `pathGlobFilter`). */
  def readWith(
      spark: SparkSession, conf: SQLConf, glob: Option[String],
      paths: Seq[String]): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val reader = glob.foldLeft(spark.read)(_.option("pathGlobFilter", _))
    paths.flatMap(files(hadoopConf, _, glob).nextOption())
        .minByOption(_.getPath.toString) match {
      case Some(f) =>
        reader.schema(footerSchema(f, hadoopConf, conf)).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }
  }

  /** Data files under `paths` as Spark's file index lists them: globs
    * expanded, directories walked, names Spark treats as hidden skipped
    * (`_x`/`.x` except partition `_k=v` dirs, and `._COPYING_`
    * leftovers); `glob` filters file names. A path that does not exist
    * contributes nothing. */
  def leafFiles(
      conf: Configuration, paths: Seq[String], glob: Option[String])
      : Seq[FileStatus] =
    paths.flatMap(files(conf, _, glob))

  /** [[leafFiles]] of one path, lazily and in path order, so finding the
    * first file lists only the directories on the way to it, not the
    * whole tree. Sorting each directory's entries by path, with a
    * trailing `/` on directories, yields the files in the order of their
    * full paths, the order Spark's inference picks from. */
  private def files(conf: Configuration, path: String, glob: Option[String])
      : Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val accept = glob.map(new GlobFilter(_))
    def key(s: FileStatus) =
      s.getPath.toString + (if (s.isDirectory) "/" else "")
    def walk(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).filterNot(s => hidden(s.getPath.getName)).sortBy(key)
        .iterator.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (accept.forall(_.accept(s.getPath))) Iterator.single(s)
          else Iterator.empty
        }
    // a root file lists as itself, so its own name is filtered too
    Option(fs.globStatus(p)).iterator.flatMap(_.sortBy(key))
      .flatMap(r => walk(r.getPath))
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footerSchema(
      f: FileStatus, hadoopConf: Configuration, conf: SQLConf): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(conf))
  }
}
