package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (1-bit) quantization — the cheapest rung of the compression
  * ladder below SQ8/PQ (as published for FAISS's binary indexes and the
  * modern embedding-API "binary embeddings" offerings): each dimension
  * keeps only its SIGN, packed ~62 dims per BIGINT word, giving a 32x
  * smaller scan than float32 with Hamming distance as the approximate
  * score. Sign-bit Hamming approximates COSINE order (it is blind to
  * magnitude), so search is the same two-phase shape as
  * [[Quantization]]: approximate Hamming top-R over the packed words
  * only, collected to the driver, then the exact-metric rescore of the
  * R survivors ([[ExactRescore]]).
  *
  * 62 bits per word, not 64: the packing fold is `acc*2 + bit` (no
  * shift-by-column exists as a portable expression), and DuckDB BIGINT
  * arithmetic is CHECKED — a 64-bit fold would overflow-throw in the
  * oracle while Java silently wraps. 62 bits keep every word positive
  * in both engines (the same cap [[NearDup]]'s simhash uses).
  *
  * Every stage (MSB-first fold encode, per-word XOR bit_count, the
  * (hamming, id) cut, the exact rescore) is plain Column arithmetic a
  * SQL oracle replays bit-for-bit.
  */
object BinaryQuantization {

  val BitsPerWord = 62

  private def litVec(v: Array[Float]): Column =
    array(v.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")

  /** Packed sign-bit words of a `dim`-dimensional vector: word w holds
    * dims [w*62, w*62+61], MSB-first fold (`acc*2 + (x > 0)`); positions
    * past `dim` contribute 0. element_at is reached only under the
    * bounds predicate of an OUTER when — CaseWhen evaluates branch
    * values conditionally in both eval and codegen, so padding
    * positions never evaluate an out-of-range element_at (which would
    * throw under spark.sql.ansi.enabled=true; relying on And
    * short-circuiting instead would make that behavior silently
    * load-bearing). */
  def encodeWords(emb: Column, dim: Int): Column = {
    val nWords = (dim + BitsPerWord - 1) / BitsPerWord
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(sequence(lit(0), lit(BitsPerWord - 1)), lit(0L), (acc, i) => {
        val idx = w * BitsPerWord + i + 1   // 1-based element index
        acc * 2 + when(idx <= least(lit(dim), size(emb)),
            when(element_at(emb, idx) > 0f, 1L).otherwise(0L))
          .otherwise(0L)
      }))
  }

  /** Add a `bq` column (array<bigint> packed sign bits) — the
    * ingest-time artifact search scans instead of the embeddings. */
  def withCodes(df: DataFrame, emb: Column, dim: Int): DataFrame =
    df.withColumn("bq", encodeWords(emb, dim))

  /** Hamming distance between two packed-word arrays (long or int words). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  // ------------------------------------------------------------------
  // 31-bit INT packing — the library storage kind ("bq"): the engine's
  // shared per-chunk `codes` column is array<int> (it already carries
  // SQ8 bytes and PQ centroid ids), so the storage rung packs signs at
  // 31 bits per int word — the same MSB-first fold, and every word
  // stays positive as an INT in both engines (DuckDB INT arithmetic is
  // checked, like the 62-bit cap above).
  // ------------------------------------------------------------------
  val BitsPerIntWord = 31

  /** Int-word count for a `dim`-dimensional vector. */
  def intWordsFor(dim: Int): Int = (dim + BitsPerIntWord - 1) / BitsPerIntWord

  /** 31-bit twin of [[encodeWords]]: array<int> sign words for the
    * shared `codes` column. Same ANSI-safe outer-when guard. */
  def encodeWordsInt(emb: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(intWordsFor(dim) - 1)), w =>
      aggregate(sequence(lit(0), lit(BitsPerIntWord - 1)), lit(0), (acc, i) => {
        val idx = w * BitsPerIntWord + i + 1   // 1-based element index
        acc * 2 + when(idx <= least(lit(dim), size(emb)),
            when(element_at(emb, idx) > 0f, 1).otherwise(0))
          .otherwise(0)
      }))

  /** Driver-local twin of [[encodeWordsInt]] — the single-row ingest
    * path packs without a Spark job; bit-identical to the column fold
    * (same MSB-first order, same strict `> 0` sign rule). */
  def encodeWordsIntLocal(v: Seq[Float]): Seq[Int] = {
    val dim = v.length
    (0 until intWordsFor(dim)).map { w =>
      var acc = 0
      var i = 0
      while (i < BitsPerIntWord) {
        val idx = w * BitsPerIntWord + i
        acc = acc * 2 + (if (idx < dim && v(idx) > 0f) 1 else 0)
        i += 1
      }
      acc
    }
  }

  /** DuckDB twin of [[encodeWordsInt]]: the 31-bit MSB-first packing
    * fold over a DOUBLE[] expression `v`, generated HERE so every
    * oracle that replays the packing shares one definition with the
    * Spark fold above (same index guard, same strict `> 0` sign rule).
    * The fragment is margin-stripped and safe to interpolate into a
    * caller's own stripMargin block. */
  def encodeWordsIntSql(v: String, dim: Int): String =
    s"""list_transform(range(0, ${intWordsFor(dim)}), w ->
       |      list_reduce(list_prepend(0::INT,
       |        list_transform(range(0, $BitsPerIntWord), i ->
       |          CASE WHEN w * $BitsPerIntWord + i + 1 <= $dim
       |                AND $v[(w * $BitsPerIntWord + i + 1)::INT] > 0
       |               THEN 1::INT ELSE 0::INT END)),
       |        (a, b) -> a * 2 + b))""".stripMargin

  /** DuckDB twin of [[hamming]] over two packed int-word arrays `a` and
    * `b` (per-word XOR + bit_count, summed as BIGINT). Paired with
    * [[encodeWordsIntSql]] the oracle replays the whole approx phase. */
  def hammingSql(a: String, b: String, dim: Int): String =
    s"""list_sum(list_transform(range(1, ${intWordsFor(dim) + 1}), j ->
       |      bit_count(xor($a[j::INT], $b[j::INT]))))::BIGINT""".stripMargin

  /** Phase 1 of [[searchStored]]: the `rescore` ids with the smallest
    * Hamming distance between the shared int-word `codes` column and the
    * query's words, ordered by (hamming, id). A lazy frame that reads
    * ONLY (id, codes). Same in-plan dimension guard as [[shortList]]. */
  def shortListStored(encoded: DataFrame, idCol: String, query: Array[Float],
                      rescore: Int, codesCol: String = "codes"): DataFrame = {
    require(rescore > 0, "need rescore > 0")
    val nWords = intWordsFor(query.length)
    val qWords = encodeWordsInt(litVec(query), query.length)
    encoded
      .select(col(idCol), col(codesCol))
      .withColumn("approx",
        when(size(col(codesCol)) =!= nWords,
          raise_error(concat(lit("codes word count "), size(col(codesCol)),
            lit(s" != query word count $nWords — codes were packed for a" +
              " different dimension"))))
          .otherwise(hamming(col(codesCol), qWords)))
      .orderBy(col("approx"), col(idCol))
      .limit(rescore)
      .select(col(idCol))
  }

  /** Two-phase binary search over a table whose packed sign words live
    * in the shared int-word `codes` column (the storage="bq" funnel):
    * Hamming top-`rescore` scanning ONLY the codes ([[shortListStored]],
    * collected), exact `metric` top-`k` rescore of the survivors
    * ([[ExactRescore]]). */
  def searchStored(encoded: DataFrame, embCol: String, idCol: String,
                   query: Array[Float], k: Int, rescore: Int,
                   metric: String, codesCol: String = "codes"): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    ExactRescore.refine(
      shortListStored(encoded, idCol, query, rescore, codesCol),
      encoded, embCol, idCol, query, metric, k)
  }

  /** Phase 1 of [[search]]: the `rescore` ids with the smallest Hamming
    * distance over the stored `bq` column, ordered by (hamming, id). A
    * lazy frame that reads ONLY (id, bq). */
  def shortList(encoded: DataFrame, idCol: String, query: Array[Float],
                rescore: Int): DataFrame = {
    require(rescore > 0, "need rescore > 0")
    val nWords = (query.length + BitsPerWord - 1) / BitsPerWord
    val qWords = encodeWords(litVec(query), query.length)
    encoded
      .select(col(idCol), col("bq"))
      // LOUD in-plan guard: a stored code packed for a different
      // dimension would zip_with-pad to NULL hammings, and ascending
      // nulls-first ordering would silently hand the rescore an
      // arbitrary id-ordered subset instead of failing
      .withColumn("approx",
        when(size(col("bq")) =!= nWords,
          raise_error(concat(lit("bq word count "), size(col("bq")),
            lit(s" != query word count $nWords — codes were packed for a" +
              " different dimension"))))
          .otherwise(hamming(col("bq"), qWords)))
      .orderBy(col("approx"), col(idCol))
      .limit(rescore)
      .select(col(idCol))
  }

  /** Two-phase binary search over a table carrying the stored `bq`
    * column: approximate Hamming top-`rescore` scanning ONLY the packed
    * words ([[shortList]], collected), exact `metric` top-`k` on the
    * survivors. Output: (idCol, distance) with the usual round(…, 6)
    * contract. */
  def search(encoded: DataFrame, embCol: String, idCol: String,
             query: Array[Float], k: Int, rescore: Int,
             metric: String): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    ExactRescore.refine(shortList(encoded, idCol, query, rescore),
      encoded, embCol, idCol, query, metric, k)
  }
}
