package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile

/** The storage layer's one parquet footer reader: metadata IO only, on the
  * driver, under the Hadoop conf the caller already holds. The
  * one-argument `ParquetFileReader.open(file)` builds its read options
  * over a fresh `Configuration`, which re-parses Hadoop's XML resources
  * for every file (~15 ms each, more than the footer read itself).
  */
object Footers {

  /** `file`'s footer; stats the file once to size the read. */
  def read(conf: Configuration, file: Path): ParquetMetadata =
    open(conf, HadoopInputFile.fromPath(file, conf))

  /** The footer of a file a listing already returned: no second stat. */
  def read(conf: Configuration, status: FileStatus): ParquetMetadata =
    open(conf, HadoopInputFile.fromStatus(status, conf))

  private def open(conf: Configuration, in: InputFile): ParquetMetadata = {
    val reader = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }
}
