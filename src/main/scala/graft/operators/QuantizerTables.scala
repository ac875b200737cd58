package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import Similarity.PqCodebooks

/** The one codec of the learned-quantizer tables: the sidecars that ride
  * beside a learned index or gate state (`_centroids`, `_pq_codebooks`,
  * `_rotation`, each a one-file parquet under its own `_SUCCESS`) and
  * the fixture model stores, which hold the same rows plus a `dir`
  * column. This is the only code that spells a sidecar's name or its
  * columns; the schemas are explicit, so what lands on disk is pinned
  * here and nowhere else. */
private[graft] object QuantizerTables {

  private val Vec = ArrayType(DoubleType, containsNull = false)
  private val DirField = StructField("dir", StringType)

  private def frame(s: SparkSession, fields: Seq[StructField],
                    rows: Seq[Seq[Any]], dir: Option[String]): DataFrame = {
    val schema = StructType(fields ++ dir.map(_ => DirField))
    s.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r ++ dir)): _*), schema)
  }

  private def save(df: DataFrame, at: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(at)

  /** Whether a sidecar write at `at` ever began (committed or not). */
  def present(s: SparkSession, at: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(at)
    p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }

  /** A matrix as `(idx int, vec array<double>)` rows, one per row vector,
    * in the sidecar directory `name`. */
  final case class Matrix(name: String, idx: String, vec: String) {
    val fields: Seq[StructField] =
      Seq(StructField(idx, IntegerType, nullable = false), StructField(vec, Vec))

    def at(path: String): String = s"$path/$name"

    def rows(s: SparkSession, m: Array[Array[Double]],
             dir: Option[String] = None): DataFrame =
      frame(s, fields, m.toSeq.zipWithIndex.map { case (r, i) => Seq(i, r.toSeq) },
        dir)

    def write(s: SparkSession, path: String, m: Array[Array[Double]]): Unit =
      save(rows(s, m), at(path))

    /** Rows selected as `(idx, vec)`, back to the matrix in idx order. */
    def decode(rows: Array[Row]): Array[Array[Double]] =
      rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

    def read(s: SparkSession, path: String): Array[Array[Double]] =
      decode(s.read.parquet(at(path)).select(idx, vec).collect())
  }

  val Centroids = Matrix("_centroids", "cid", "centroid")
  val Rotation = Matrix("_rotation", "i", "rowv")

  /** PQ codebooks as `(j int, c int, centroid array<double>)` rows:
    * subspace j, centroid c. */
  object Codebooks {
    val name = "_pq_codebooks"
    val fields: Seq[StructField] = Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("c", IntegerType, nullable = false),
      StructField("centroid", Vec))

    def at(path: String): String = s"$path/$name"

    def rows(s: SparkSession, cb: PqCodebooks,
             dir: Option[String] = None): DataFrame =
      frame(s, fields, for (j <- cb.codebooks.indices; c <- cb.codebooks(j).indices)
        yield Seq(j, c, cb.codebooks(j)(c).toSeq), dir)

    def write(s: SparkSession, path: String, cb: PqCodebooks): Unit =
      save(rows(s, cb), at(path))

    /** Rows selected as `(j, c, centroid)`, back to the codebooks. */
    def decode(rows: Array[Row]): PqCodebooks = {
      val byJ = rows.groupBy(_.getInt(0))
      PqCodebooks((0 until byJ.size).toArray.map { j =>
        byJ(j).sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      })
    }

    def read(s: SparkSession, path: String): PqCodebooks =
      decode(s.read.parquet(at(path)).select("j", "c", "centroid").collect())
  }
}
