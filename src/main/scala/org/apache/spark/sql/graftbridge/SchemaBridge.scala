package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[spark]` schema helpers a reader needs to pass
  * `.schema(…)` the schema Spark would otherwise infer with a one-task
  * job: the parquet footer reader behind that inference, and the
  * all-nullable view a file relation exposes. */
object SchemaBridge {

  /** The schema `spark.read.parquet(files: _*)` infers with schema merging
    * off: that inference reads the footer of the first file in qualified-
    * path order, and so does this, on the driver, with the converter the
    * session's SQL conf builds. */
  def parquetFooterSchema(s: SparkSession, files: Seq[String]): StructType = {
    val conf = s.sessionState.newHadoopConf()
    val first = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).makeQualified(p)
    }.minBy(_.toString)
    val status = first.getFileSystem(conf).getFileStatus(first)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
  }

  /** `schema` as a file relation over data written with it exposes it:
    * every field, element and value nullable. */
  def nullable(schema: StructType): StructType = schema.asNullable
}
