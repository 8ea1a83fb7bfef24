package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test reference for the band-bucket pass (`DupClusters.bucketPairs`
  * and the kernels on it), written as plain relational operators: a
  * band self-join inside every bucket of at most `maxBucket` rows, and
  * star edges from the minimum id to every member with another id
  * inside larger buckets. Null ids count toward a bucket's size but
  * pair with nothing; a null key column puts a row in no bucket. With
  * `MinHash.GuardConfKey` off every bucket self-joins.
  *
  * `exploded` holds `keyCols`, `idCol` and `payloadCols`; the result is
  * (id_a, id_b, payload_a…, payload_b…, is_star) with id_a < id_b, once
  * per shared bucket. */
object BandPairsReference {

  def apply(exploded: DataFrame, keyCols: Seq[String], idCol: String,
      payloadCols: Seq[String], maxBucket: Int): DataFrame = {
    val guardOff = exploded.sparkSession.conf
      .get(operators.MinHash.GuardConfKey, "on").equalsIgnoreCase("off")
    val cap = if (guardOff) Int.MaxValue else maxBucket
    val keys = keyCols.map(col)
    val sized = exploded.withColumn("__n", count(lit(1)).over(Window.partitionBy(keys: _*)))
    def side(suffix: String, df: DataFrame) = df.select(keys ++
      (col(idCol).as(s"id_$suffix") +: payloadCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
    val out = (Seq("id_a", "id_b") ++ payloadCols.flatMap(c => Seq(s"${c}_a", s"${c}_b")))
      .map(col) :+ col("is_star")
    val small = sized.where(col("__n") <= cap)
    val selfJoin = side("a", small).join(side("b", small), keyCols)
      .where(col("id_a") < col("id_b"))
      .withColumn("is_star", lit(false))
    val big = sized.where(col("__n") > cap)
    val repAggs = min(col(idCol)).as("id_a") +:
      payloadCols.map(c => min_by(col(c), col(idCol)).as(s"${c}_a"))
    val reps = big.groupBy(keys: _*).agg(repAggs.head, repAggs.tail: _*)
    val star = side("b", big).join(reps, keyCols)
      .where(col("id_a") =!= col("id_b"))
      .withColumn("is_star", lit(true))
    selfJoin.select(out: _*).union(star.select(out: _*))
  }
}
