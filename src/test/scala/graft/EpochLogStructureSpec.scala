package graft

/** The commit-record protocol stays behind one module: outside
  * `EpochLog.scala`, the layout families built on the log never spell a
  * commit-record write or a log location themselves. */
class EpochLogStructureSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val families = Seq(
    "src/main/scala/graft/operators/Dedup.scala",
    "src/main/scala/graft/operators/Similarity.scala",
    "src/main/scala/graft/streaming/SemDedupIngest.scala")

  private val protocolSpellings = Seq(
    "toDF(\"build_id\", \"key\")", "_epochs\"", "_meta\"", "_tombs\"",
    "_tombstones\"")

  private def codeLines(file: String): Seq[(Int, String)] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().toSeq.zipWithIndex.map { case (l, i) => (i + 1, l) }
      .filterNot { case (_, l) =>
        val t = l.trim
        t.isEmpty || t.startsWith("//") || t.startsWith("*") ||
          t.startsWith("/*")
      }
    finally src.close()
  }

  for (file <- families) test(s"${file.split('/').last} holds no " +
    "commit-record spelling outside comments") {
    val hits = for {
      (n, line) <- codeLines(file)
      s <- protocolSpellings if line.contains(s)
    } yield s"$file:$n: $s"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the guard sees the spellings where they do live") {
    val log = codeLines("src/main/scala/graft/operators/EpochLog.scala")
      .map(_._2).mkString("\n")
    Seq("_epochs\"", "_meta\"", "_tombs\"", "_tombstones\"")
      .foreach(s => assert(log.contains(s), s))
  }
}
