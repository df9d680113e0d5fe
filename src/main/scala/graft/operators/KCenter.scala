package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy k-center diverse-subset selection (Gonzalez 1985, the 2-
  * approximation farthest-point traversal) over an embedding column —
  * the "pick k maximally spread exemplars" step of training-data
  * curation (seed deduplication clusters, coverage probes, active-
  * learning pools).
  *
  * Determinism: the seed is the smallest id; each round picks the
  * point maximizing the squared-L2 distance to its nearest chosen
  * center with ties toward the smaller id. Squared distances come from
  * the codegen'd [[graft.plans.DotProductExpr]] fold
  * (`(dvv + dcc) - 2·dot(v,c)` — index-ascending IEEE summation, the
  * same shape DuckDB's `list_dot_product` computes), so a SQL oracle
  * replays the selection bit-for-bit; no rounding needed.
  *
  * Scale shape: k passes over the vector table, each a scan-level
  * projection against ONE broadcast center (no join, no shuffle) plus
  * a top-1 `TakeOrdered` reduction; the running nearest-center
  * distance is carried as a column and the frame is eagerly
  * `localCheckpoint`ed per round — the k-pass structure is inherent to
  * the greedy algorithm (each pick depends on the last), and k is
  * small by definition. The 1-row argmax collect per round is the
  * documented bounded-scalar pattern.
  */
object KCenter {

  /** @param vectors df with an id column and a float-array vector
    *                column
    * @param k       number of centers (≥ 1), round 0 = the seed
    * @return (round 0.., center_id, dist) where dist is the selected
    *         point's squared L2 distance to its nearest prior center
    *         (0.0 for the seed) */
  def greedy(vectors: DataFrame, idCol: String, vecCol: String,
             k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = vectors.sparkSession
    var frame = vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("dvv", Similarity.dot(col("v"), col("v")))
    val seed = frame.orderBy("id").limit(1)
      .select("id", "v", "dvv").collect()(0)
    def vecOf(r: org.apache.spark.sql.Row) = r.getSeq[Float](1)
    val picked = Seq.newBuilder[(Int, Long, Double)]
    picked += ((0, seed.getLong(0), 0.0))
    def withDistTo(df: DataFrame, c: org.apache.spark.sql.Row,
                   merge: Option[String]): DataFrame = {
      val nd = (col("dvv") + lit(c.getDouble(2))) -
        lit(2.0) * Similarity.dot(col("v"), typedlit(vecOf(c)))
      df.withColumn("d", merge.fold(nd)(prev => least(col(prev), nd)))
    }
    // picked ids leave the candidate frame: without the exclusion,
    // duplicate points (d = 0 everywhere once k exceeds the distinct
    // count) would re-pick the seed forever instead of the remaining
    // distinct exemplars (review r9 finding)
    frame = Iterate.cut(
      withDistTo(frame.filter(col("id") =!= seed.getLong(0)), seed, None))
    for (r <- 1 until k) {
      val rows = frame.orderBy(desc("d"), asc("id"))
        .limit(1).select("id", "v", "dvv", "d").collect()
      require(rows.nonEmpty,
        s"k-center: k=$k exceeds the number of distinct ids " +
          s"(ran out after ${picked.result().size} picks)")
      val top = rows(0)
      picked += ((r, top.getLong(0), top.getDouble(3)))
      frame = Iterate.cut(withDistTo(
        frame.filter(col("id") =!= top.getLong(0)), top, Some("d")))
    }
    spark.createDataFrame(picked.result())
      .toDF("round", "center_id", "dist")
  }
}
