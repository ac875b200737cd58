package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CsvHeader

import graft.sources.Readers

/** `Readers.csv` resolves its header on the driver. These fixtures pin that
  * the raw read is exactly the one Spark's own schema inference gives:
  * same schema, same rows, and the same error where the path matches
  * nothing. */
class CsvHeaderSpec extends SparkSpec {

  /** The read `Readers.csv` made before: Spark infers the header. */
  private def inferred(path: String): DataFrame =
    spark.read.option("header", "true").option("mode", "PERMISSIVE").csv(path)

  private def dir(files: (String, String)*): File = {
    val d = Files.createTempDirectory("csv-header").toFile
    files.foreach { case (name, body) =>
      Files.write(new File(d, name).toPath, body.getBytes(StandardCharsets.UTF_8))
    }
    d
  }

  /** Same schema and rows as the inferred read; `driver` says whether the
    * header came from the driver-side read or from the fallback. */
  private def assertSameRead(path: String, driver: Boolean): Unit = {
    val got = Readers.csvStrings(spark, path)
    val want = inferred(path)
    assert(got.schema == want.schema, s"$path:\n${got.schema}\nvs\n${want.schema}")
    assert(got.collect().toSeq.map(_.toString).sorted == want.collect().toSeq.map(_.toString).sorted)
    assert(CsvHeader.schema(spark, path, Readers.CsvOptions).isDefined == driver, path)
  }

  test("a quoted header name holding a comma stays one column") {
    val d = dir("a.csv" -> "\"job,ID\",node,\"ti\"\"me\"\nj1,N1,t1\nj2,N2,t2\n")
    assertSameRead(s"$d/a.csv", driver = true)
  }

  test("duplicate and empty header names get makeSafeHeader's renames") {
    val d = dir("a.csv" -> "a,A,,b,a,NULL\n1,2,3,4,5,6\n")
    assertSameRead(s"$d/a.csv", driver = true)
    assert(Readers.csvStrings(spark, s"$d/a.csv").columns.toSeq ==
      Seq("a0", "A1", "_c2", "b", "a4", "NULL"))
  }

  test("leading blank lines are skipped; a tab-only line and a byte order " +
    "mark are read as the text scan reads them") {
    val d = dir(
      "blank.csv" -> "\n   \n\r\nx,y\n1,2\n",
      "tab.csv" -> "\t\nx,y\n1,2\n",
      "bom.csv" -> "\uFEFFx,y\n1,2\n")
    Seq("blank", "tab", "bom").foreach(f => assertSameRead(s"$d/$f.csv", driver = true))
    assert(Readers.csvStrings(spark, s"$d/bom.csv").columns.toSeq == Seq("x", "y"))
  }

  test("a glob of files of different sizes takes the header of the largest") {
    val d = dir(
      "a.csv" -> "small,header\n1,2\n",
      "b.csv" -> ("big,head,er\n" + "1,2,3\n" * 50),
      "c.csv" -> "mid,header\n1,2\n3,4\n")
    assertSameRead(s"$d/*.csv", driver = true)
    assert(Readers.csvStrings(spark, s"$d/*.csv").columns.toSeq == Seq("big", "head", "er"))
  }

  test("files larger than a split tie on their first split: glob order wins") {
    val d = dir(
      "a.csv" -> ("first,file\n" + "1,2\n" * 20),
      "b.csv" -> ("second,file,larger\n" + "1,2,3\n" * 200))
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "16"))
    try {
      assertSameRead(s"$d/*.csv", driver = true)
      assert(Readers.csvStrings(spark, s"$d/*.csv").columns.toSeq == Seq("first", "file"))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("an empty file that sorts first is skipped") {
    val d = dir("a.csv" -> "", "b.csv" -> "x,y\n1,2\n")
    assertSameRead(s"$d/*.csv", driver = true)
  }

  test("where the driver read cannot answer, Spark's inference does: only " +
    "empty files, a blank-only file, a directory") {
    val d = dir("a.csv" -> "", "b.csv" -> "")
    assertSameRead(s"$d/*.csv", driver = false)
    assert(Readers.csvStrings(spark, s"$d/*.csv").schema.isEmpty)
    val blank = dir("a.csv" -> "\n\n")
    assertSameRead(s"$blank/a.csv", driver = false)
    val whole = dir("a.csv" -> "x,y\n1,2\n")
    assertSameRead(whole.toString, driver = false)
  }

  test("a glob that matches nothing raises the same error as before") {
    val d = dir()
    def error(read: => DataFrame) = intercept[org.apache.spark.sql.AnalysisException](read)
    for (p <- Seq(s"$d/*.csv", s"$d/missing.csv")) {
      val (got, want) = (error(Readers.csvStrings(spark, p)), error(inferred(p)))
      assert(got.getClass == want.getClass && got.getCondition == want.getCondition,
        s"$p: ${got.getCondition} vs ${want.getCondition}")
    }
  }
}
