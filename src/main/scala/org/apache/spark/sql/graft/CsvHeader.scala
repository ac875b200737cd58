package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, HadoopFileLinesReader, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's CSV reader infers for a header read without
  * `inferSchema`, resolved on the driver. Spark gets it from a `take(1)`
  * job over the files as a text scan: the first non-blank line of the
  * scan's first split, parsed with the reader's own parser settings and
  * made safe by `CSVUtils.makeSafeHeader`, every column a nullable string.
  * This reads that same line from the same split, through the scan's own
  * line reader (`HadoopFileLinesReader`, which also drops a UTF-8 byte
  * order mark), with the scan's blank-line rule, so the schema is the one
  * inference returns, without the job. */
object CsvHeader {

  /** The inferred schema of `path` (a file or a glob of files) read with
    * `options`, or None where only Spark's own inference can say: the path
    * matches nothing, a directory or a hidden file, every file is empty, or
    * the first split holds no non-blank line. */
  def schema(spark: SparkSession, path: String, options: Map[String, String]): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val csvOptions = new CSVOptions(options, sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
    require(csvOptions.headerFlag && !csvOptions.inferSchemaFlag && !csvOptions.multiLine &&
      csvOptions.charset == StandardCharsets.UTF_8.name,
      "CsvHeader resolves only a single-line UTF-8 header read without inferSchema")
    val conf = session.sessionState.newHadoopConfWithOptions(options)
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(conf)
    val matched = Option(fs.globStatus(fs.makeQualified(pattern))).toSeq.flatten
    if (matched.isEmpty || matched.exists(s =>
        s.isDirectory || HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))) None
    else {
      // the text scan's splits, largest first (a stable sort, so glob order
      // breaks ties): the first one is the split `take(1)` reads first
      val files = matched.filter(_.getLen > 0).map(FileStatusWithMetadata(_))
      val maxSplit = FilePartition.maxSplitBytes(session, Seq(PartitionDirectory(InternalRow.empty, files)))
      val text = new TextFileFormat
      val splits = files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
        text.isSplitable(session, Map.empty, f.getPath), maxSplit, InternalRow.empty))
      splits.sortBy(_.length)(Ordering[Long].reverse).headOption.flatMap { first =>
        val lines = new HadoopFileLinesReader(first, conf)
        // the scan's filter is SQL `length(trim(value)) > 0`: only spaces trim
        val line = try lines.map(t => new String(t.getBytes, 0, t.getLength, StandardCharsets.UTF_8))
          .find(l => l.exists(_ != ' ') &&
            !(csvOptions.isCommentSet && l.startsWith(csvOptions.comment.toString)))
        finally lines.close()
        line.flatMap(l => Option(new com.univocity.parsers.csv.CsvParser(csvOptions.asParserSettings).parseLine(l)))
          .map(row => StructType(CSVUtils.makeSafeHeader(row, sqlConf.caseSensitiveAnalysis, csvOptions)
            .map(StructField(_, StringType, nullable = true)).toSeq))
      }
    }
  }
}
