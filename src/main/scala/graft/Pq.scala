package graft

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read ON THE DRIVER,
  * memoized per path stamp.
  *
  * A bare `spark.read.parquet(path)` infers its schema through a Spark
  * job (`readParquetFootersInParallel`): one single-task job per read
  * call, paid at query construction whatever the data's size. [[read]]
  * never starts that job. On a memo miss it lists the paths on the
  * driver, opens the first data file's footer with
  * `ParquetFileReader` and converts it the way Spark's own
  * inference does (`ParquetFileFormat.readSchemaFromFooter`: the
  * row-metadata schema when the file carries one, else the session's
  * `ParquetToSparkSchemaConverter`, so `nanosAsLong` and the NTZ
  * inference confs apply). `s.read.schema(…)` then appends the
  * partition columns the directory names carry. Spark's own inference
  * still runs in two cases: `spark.sql.parquet.mergeSchema` is on (one
  * footer is not the answer), and the driver read throws or finds no
  * data file — so empty, missing and corrupt paths fail with Spark's own
  * error, and `ignoreCorruptFiles` still applies.
  *
  * Memo contract: the key is the (path, mtime, length) stamp of each
  * NAMED path, not of the files below it. A hit skips even the driver
  * footer read. Append, overwrite and compaction touch the named
  * directory, so they re-key it; but a writer that CHANGES a
  * schema must write it under a new path — every engine writer does
  * (fresh generation dirs; the epoch tier's evolution flows through its
  * declared read schema, never through footer inference).
  */
object Pq {

  private type Key = Seq[(String, Long, Long)]
  private[graft] val MaxEntries = 8192
  /** Access-ordered: past [[MaxEntries]] the least recently used goes. */
  private[graft] val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, StructType]): Boolean =
        size > MaxEntries
    })

  private def stamp(s: SparkSession, paths: Seq[String]): Key =
    paths.sorted.map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      try {
        val st = fs.getFileStatus(hp)
        (p, st.getModificationTime, st.getLen)
      } catch {
        case _: java.io.FileNotFoundException => (p, -1L, -1L)
      }
    }

  /** `spark.read.parquet(paths…)`, same frame, with no Spark job to
    * learn the schema. */
  def read(s: SparkSession, paths: String*): DataFrame = {
    val key = stamp(s, paths)
    val schema = Option(memo.get(key)).getOrElse {
      val inferred = infer(s, paths) // outside the lock: footer I/O
      memo.put(key, inferred)
      inferred
    }
    s.read.schema(schema).parquet(paths: _*)
  }

  /** Total rows of the parquet data files under `paths`, summed from
    * their footers — the count of just-committed files without a job. */
  def rows(s: SparkSession, paths: String*): Long = {
    val conf = s.sessionState.newHadoopConf()
    dataFiles(conf, paths).map(st =>
      footer(conf, st, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  private def infer(s: SparkSession, paths: Seq[String]): StructType = {
    val onDriver =
      if (s.sessionState.conf.isParquetSchemaMergingEnabled) None
      else try {
        val conf = s.sessionState.newHadoopConf()
        dataFiles(conf, paths).nextOption().map { st =>
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(st.getPath,
              footer(conf, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
            new ParquetToSparkSchemaConverter(s.sessionState.conf))
        }
      } catch { case NonFatal(_) => None }
    onDriver.getOrElse(s.read.parquet(paths: _*).schema)
  }

  private def footer(conf: Configuration, st: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    Using.resource(ParquetFileReader.open(HadoopInputFile.fromStatus(st,
      conf), HadoopReadOptions.builder(conf).withMetadataFilter(filter)
      .build()))(_.getFooter)

  /** Spark's file-index rule: `_x` and `.x` names are hidden (and
    * in-flight `._COPYING_` copies), `k=v` partition dirs such as `_p=3`
    * are kept. */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))

  /** The non-empty visible files under `paths`, lazily, in the file
    * index's order: path by path, a directory's files before its
    * subdirectories. */
  private def dataFiles(conf: Configuration, paths: Seq[String])
      : Iterator[FileStatus] = {
    // a named directory is listed whatever its own name; what a listing
    // returns (a named file included) goes through the hidden-name rule
    def under(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus)
        : Iterator[FileStatus] = {
      val (dirs, files) = (if (st.isFile) Array(st)
        else fs.listStatus(st.getPath))
        .filter(c => visible(c.getPath.getName)).partition(_.isDirectory)
      files.iterator.filter(_.getLen > 0) ++
        dirs.iterator.flatMap(under(fs, _))
    }
    paths.iterator.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      under(fs, fs.getFileStatus(hp))
    }
  }
}
