package graft

/** The commit-record protocol stays behind one module: outside
  * `EpochLog.scala`, the layout families built on the log never spell a
  * commit-record write or a log location themselves. Likewise the
  * learned-quantizer sidecars: outside `QuantizerTables.scala` no main
  * source spells a sidecar name, and the codec pins each sidecar's
  * columns. */
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

  private val sidecarName =
    "(?<![A-Za-z0-9])_(centroids|pq_codebooks|rotation)(?![A-Za-z0-9_])".r
  private val codec = "src/main/scala/graft/operators/QuantizerTables.scala"

  private def mainSources: Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File("src/main/scala")).map(_.getPath)
      .filter(_.endsWith(".scala")).sorted
  }

  test("no main source outside the sidecar codec spells a sidecar name " +
    "outside comments") {
    val hits = for {
      file <- mainSources if file != codec
      (n, line) <- codeLines(file) if sidecarName.findFirstIn(line).isDefined
    } yield s"$file:$n: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the sidecar guard sees the names where they do live, and only " +
    "there") {
    assert(mainSources.contains(codec))
    val names = codeLines(codec).flatMap { case (_, l) =>
      sidecarName.findAllIn(l).toSeq }.toSet
    assert(names == Set("_centroids", "_pq_codebooks", "_rotation"), names)
    // the name guard is exact: longer names that embed one do not match
    Seq("opq_rotation", "centroids_flat", "opq_centroids_flat", "_centroids_x")
      .foreach(n => assert(sidecarName.findFirstIn(s"\"$n\"").isEmpty, n))
  }

  test("each sidecar's columns are pinned: (cid int, centroid " +
    "array<double>), (j int, c int, centroid array<double>), (i int, rowv " +
    "array<double>)") {
    import graft.operators.QuantizerTables
    def cols(fs: Seq[org.apache.spark.sql.types.StructField]) =
      fs.map(f => s"${f.name} ${f.dataType.simpleString}")
    assert(QuantizerTables.Centroids.name == "_centroids" &&
      cols(QuantizerTables.Centroids.fields) == Seq("cid int", "centroid array<double>"))
    assert(QuantizerTables.Codebooks.name == "_pq_codebooks" &&
      cols(QuantizerTables.Codebooks.fields) ==
        Seq("j int", "c int", "centroid array<double>"))
    assert(QuantizerTables.Rotation.name == "_rotation" &&
      cols(QuantizerTables.Rotation.fields) == Seq("i int", "rowv array<double>"))
  }
}
