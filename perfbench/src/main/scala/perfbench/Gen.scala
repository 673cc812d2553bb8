package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is drawn from `java.util.Random`
  * streams derived from the workload seed and a stream name, so the same
  * seed always yields the same rows in the same order, and the parquet
  * files written from them are byte-identical. The engine only ever sees
  * DataFrames read back from those files. */
object Gen {

  val Dim = 64
  val Clusters = 64

  /** One random stream per (seed, purpose): adding a stream never shifts
    * the values of another. */
  def rng(seed: Long, stream: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Gaussian-mixture embeddings: `Clusters` unit-scale centres, each point
    * its centre plus isotropic noise. Clustered data is what makes LSH and
    * IVF probing meaningful (uniform vectors have no neighbourhoods). The
    * mixture itself is fixed; the seed draws the points from it, so runs
    * on different seeds measure the same distribution. */
  final class Mixture(seed: Long) {
    private val centres: Array[Array[Float]] = {
      val r = rng(0L, "centres")
      Array.fill(Clusters, Dim)(r.nextGaussian().toFloat)
    }
    def draw(n: Int, stream: String): Array[Array[Float]] = {
      val r = rng(seed, stream)
      Array.fill(n) {
        val c = centres(r.nextInt(Clusters))
        Array.tabulate(Dim)(j => (c(j) + 0.45 * r.nextGaussian()).toFloat)
      }
    }
  }

  def chunkId(prefix: String, i: Long): String = f"$prefix$i%08d"

  val chunkSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("document_id", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = false),
    StructField("chunk_index", IntegerType, nullable = false)))

  def chunkRows(ids: Array[String], docId: String,
                vecs: Array[Array[Float]]): java.util.List[Row] = {
    val rows = new java.util.ArrayList[Row](ids.length)
    var i = 0
    while (i < ids.length) {
      rows.add(Row(ids(i), docId, "text of " + ids(i), vecs(i).toSeq,
        Map.empty[String, String], i))
      i += 1
    }
    rows
  }

  /** Raw user bytes of chunk rows: id, text and embedding payload. The
    * denominator of the state-size ratio. */
  def rawChunkBytes(ids: Array[String]): Long =
    ids.map(id => id.getBytes(UTF_8).length.toLong * 2 + 8 + Dim * 4L).sum

  /** Text docs of `tokens` words drawn uniformly from a `vocab`-word
    * vocabulary, ids 0 until n: the input of the MinHash kernel bench. */
  final case class Docs(ids: Array[Long], texts: Array[String])

  def docs(seed: Long, n: Int, tokens: Int = 150, vocab: Int = 20000): Docs = {
    val r = rng(seed, "docs")
    val words = Array.tabulate(vocab) { i =>
      val sb = new StringBuilder("w")
      var x = i
      do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
      sb.toString
    }
    Docs(Array.tabulate(n)(_.toLong),
      Array.fill(n)(Array.fill(tokens)(words(r.nextInt(vocab))).mkString(" ")))
  }

  val docsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docRows(d: Docs): java.util.List[Row] = {
    val rows = new java.util.ArrayList[Row](d.ids.length)
    d.ids.indices.foreach(i => rows.add(Row(d.ids(i), d.texts(i))))
    rows
  }

  /** Write rows as parquet (one file per default-parallelism slice) and
    * return the frame read back from disk. */
  def writeParquet(spark: SparkSession, rows: java.util.List[Row],
                   schema: StructType, path: String): DataFrame = {
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
