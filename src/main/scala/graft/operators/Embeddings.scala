package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, expr, round, row_number}

import graft.Tables

/** The embedding-search building blocks shared by [[Similarity]] and
  * [[Dedup]]: the vector format and the plan fragments the v-family and
  * d04/d07 are built from.
  *
  * Vector format: every embedding is quantized to int64 (×1000,
  * round-half-away), so dot products and squared norms are exact
  * integers; the cosine double derived from them (`dot / sqrt(na·nb)`) is
  * then bit-identical in every IEEE-754 engine, which makes a top-k's
  * ORDER (including which candidates make the cut) engine-independent.
  *
  * Frame conventions: a vector frame holds `vec_id`, the quantized vector
  * `q` and its squared norm `nrm`. A pair frame holds a query side
  * (`qid`, `qq`, `qn`) and a corpus side (`cid`, `cq`, `cn`). The queries
  * are the vectors whose id is a multiple of 25.
  */
private[operators] object Embeddings {

  val quantize =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  def dot(a: String, b: String): String = s"vec_dot($a, $b)"
  /** Exact cosine of an integer dot product and two squared norms. */
  def cosOf(dotProduct: String, na: String, nb: String): String =
    s"CAST($dotProduct AS DOUBLE) / sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))"
  def cos(qa: String, qb: String, na: String, nb: String): String =
    cosOf(dot(qa, qb), na, nb)

  /** (`vec_id`, `keep`…, `q`): the quantized embeddings. */
  def quantized(spark: SparkSession, dir: String, keep: Column*): DataFrame =
    Tables.embeddings(spark, dir)
      .select((col("vec_id") +: keep :+ expr(quantize).as("q")): _*)

  /** [[quantized]] with the squared norm `nrm`. */
  def normed(spark: SparkSession, dir: String, keep: Column*): DataFrame =
    quantized(spark, dir, keep: _*).withColumn("nrm", expr(dot("q", "q")))

  def queryRows(vecs: DataFrame): DataFrame = vecs.filter(col("vec_id") % 25 === 0)

  /** (`qid`, `keep`…, `qq`, `qn`) of a vector frame. */
  def asQueries(vecs: DataFrame, keep: Column*): DataFrame =
    vecs.select((col("vec_id").as("qid") +: keep) ++
      Seq(col("q").as("qq"), col("nrm").as("qn")): _*)

  /** (`cid`, `keep`…, `cq`, `cn`) of a vector frame. */
  def asCorpus(vecs: DataFrame, keep: Column*): DataFrame =
    vecs.select((col("vec_id").as("cid") +: keep) ++
      Seq(col("q").as("cq"), col("nrm").as("cn")): _*)

  /** Every (query, corpus vector) pair except self-matches: the
    * O(n²/25) surface of the exact family. */
  def exactPairs(vecs: DataFrame): DataFrame =
    asQueries(queryRows(vecs)).join(asCorpus(vecs), col("qid") =!= col("cid"))

  /** Candidate (`qid`, `cid`) pairs with both sides' vectors attached:
    * the input of an exact re-rank. */
  def withVectors(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs.join(asQueries(vecs), "qid").join(asCorpus(vecs), "cid")

  /** Per-query top-`k`: `rank` numbers each query's rows by `order`,
    * ties to the lower `cid`, and rows past `k` are dropped. */
  def topK(scored: DataFrame, order: Column, k: Int, rank: String = "rank"): DataFrame =
    scored
      .withColumn(rank, row_number().over(
        Window.partitionBy(col("qid")).orderBy(order, col("cid").asc)))
      .filter(col(rank) <= k)

  /** [[topK]] of a pair frame by its exact cosine, kept as `score`. */
  def cosineTopK(pairs: DataFrame, k: Int, rank: String = "rank",
                 score: String = "cos"): DataFrame =
    topK(pairs.withColumn(score, expr(cos("qq", "cq", "qn", "cn"))),
      col(score).desc, k, rank)

  /** The neighbor-list output of a [[topK]] frame: (`qid`, `before`…,
    * `rank`, `neighbor_id`, `after`…), ordered by query then rank. */
  def neighbors(ranked: DataFrame, after: Seq[Column],
                before: Seq[Column] = Nil): DataFrame =
    ranked
      .select((col("qid") +: before) ++ (col("rank").cast("int").as("rank") +:
        col("cid").as("neighbor_id") +: after): _*)
      .orderBy(col("qid"), col("rank"))

  /** The exact cosine rounded to 6 places, as reported. */
  def cosine(name: String = "cosine"): Column = round(col("cos"), 6).as(name)

  /** IVF coarse assignment before any cut: every vector of `vecs` against
    * the first `nlist` vectors as centroids (`centroid_id`, `cenq`,
    * `cenn`), with its exact cosine `ccos` to each and the per-vector
    * rank `crank` (max cosine first, tie to the lower centroid id). The
    * nlist-row centroid table is broadcast, so the assignment is
    * map-side at any corpus size. Deterministic seeding, with no
    * iterative training, keeps the assignment reproducible and
    * oracle-checkable.
    */
  def cellRanks(vecs: DataFrame, nlist: Int): DataFrame = {
    val centroids = vecs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("q").as("cenq"), col("nrm").as("cenn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    vecs.crossJoin(broadcast(centroids))
      .withColumn("ccos", expr(cos("q", "cenq", "nrm", "cenn")))
      .withColumn("crank", row_number().over(w))
  }
}
