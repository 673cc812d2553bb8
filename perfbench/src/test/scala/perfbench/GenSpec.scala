package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a pure function of the seed: the same seed
  * writes byte-identical parquet, another seed writes different bytes. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()
  private lazy val root: Path =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "genspec")

  override def afterAll(): Unit = {
    spark.stop()
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Bytes of every parquet part file under `dir`, in part-number order
    * (file names carry a random job id, so they are not compared). */
  private def partBytes(dir: Path): Seq[Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString.take(10))
      .map(p => Files.readAllBytes(p).toSeq)
    finally s.close()
  }

  private var n = 0
  private def vectors(seed: Long): Seq[Seq[Byte]] = {
    n += 1
    val m = new Gen.Mixture(seed)
    val vecs = m.draw(500, "base")
    val ids = Array.tabulate(500)(i => Gen.chunkId("", i))
    val dir = root.resolve(s"v$n")
    Gen.writeParquet(spark, Gen.chunkRows(ids, "d", vecs), Gen.chunkSchema, dir.toString)
    partBytes(dir)
  }

  private def docs(seed: Long): Seq[Seq[Byte]] = {
    n += 1
    val dir = root.resolve(s"d$n")
    Gen.writeParquet(spark, Gen.docRows(Gen.docs(seed, 300)), Gen.docsSchema, dir.toString)
    partBytes(dir)
  }

  test("same seed, byte-identical vector parquet; another seed differs") {
    val a = vectors(7L)
    assert(a.nonEmpty)
    assert(vectors(7L) == a)
    assert(vectors(8L) != a)
  }

  test("same seed, byte-identical doc parquet; another seed differs") {
    val a = docs(7L)
    assert(a.nonEmpty)
    assert(docs(7L) == a)
    assert(docs(8L) != a)
  }
}
