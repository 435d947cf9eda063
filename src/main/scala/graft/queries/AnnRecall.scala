package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.sim.Similarity

/** The recall harness of the ANN rows: every row measures an index's
  * top-5 against the brute-force top-5 of the same queries, the Spark
  * side of [[OracleSql.bruteCtes]] + [[OracleSql.recallTail]].
  */
private[queries] object AnnRecall {

  /** The four query vectors `vec_id < 4` of `e`, as `(query_id, qe)`
    * (the family's query-set width contract, see qs1).
    */
  def queries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** Brute-force top-5 of `q` over `corpus`, persisted: result-sized
    * (queries × k), and every arm's recall joins against it.
    */
  def brute(corpus: DataFrame, q: DataFrame): DataFrame =
    Similarity.bruteTopK(corpus, q, "vec_id", "embedding", "query_id", "qe", k = 5)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Recall@5 of `ann` against `brute` as `(query_id, n_hit, n_exact,
    * recall)`, the counts as INT like the oracles'.
    */
  def recall(ann: DataFrame, brute: DataFrame): DataFrame =
    Similarity.recallAtK(ann, brute, k = 5)
      .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
        col("n_exact").cast("int").as("n_exact"), col("recall"))

  /** One recall row: [[recall]] of the ranking `ann` builds against
    * the [[brute]] top-5 of `q` over `corpus`, ordered by query_id.
    * The brute ranking is defined before `ann` runs its fits.
    */
  def apply(corpus: DataFrame, q: DataFrame)(ann: => DataFrame): DataFrame = {
    val b = brute(corpus, q)
    recall(ann, b).orderBy(col("query_id"))
  }
}
