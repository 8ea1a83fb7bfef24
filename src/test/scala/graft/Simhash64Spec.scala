package graft

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The row-local SimHash kernel (`graftx.Simhash64` behind
  * `DedupOps.simhash64Of`) against the formulation it replaced: a
  * doc_id shuffle, a token explode, two hex `conv` parses per token and
  * 64 per-bit sums, kept here verbatim as the reference. */
class Simhash64Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  /** The aggregate formulation: bit j of the signature is the majority
    * of bit j of md5(token)'s first 64 bits over the distinct tokens. */
  private def reference(docs: DataFrame): DataFrame = {
    val tk = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("c0", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("c1", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { j =>
      val c = if (j < 32) col("c0") else col("c1")
      sum(shiftright(c, 31 - (j % 32)).bitwiseAND(lit(1L))).as(s"s$j")
    }
    val agg = tk.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), bitSums: _*)
    def bit(j: Int): Column = col(s"s$j") * 2 > col("n_tok")
    val bits = concat((0 until 64).map(j =>
      when(bit(j), "1").otherwise("0")): _*)
    val bands = (0 until 4).map { k =>
      (0 until 16).map(i =>
        when(bit(16 * k + i), lit(1 << (15 - i))).otherwise(lit(0)))
        .reduce(_ + _).cast("int").as(s"band$k")
    }
    agg.select(
      Seq(col("doc_id"), col("n_tok"), bits.as("simhash")) ++ bands: _*)
  }

  /** Two distinct tokens whose md5 bits differ somewhere: 2·1 == n_tok
    * there, a tie the kernel must leave unset. */
  private val tie = "alpha beta"

  private def docs: DataFrame = {
    import spark.implicits._
    val fixture = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val edge = Seq[(Long, String)](
      (-1L, null), (-2L, ""), (-3L, "x x x y x y z"),
      (-4L, "café naïve 日本語 café ünïcödé"), (-5L, tie),
      (-6L, "  lead and  double  spaces "), (-7L, "single"))
      .toDF("doc_id", "text")
    fixture.unionByName(edge)
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the tie input has a bit set in exactly one of its two tokens") {
    val ds = tie.split(" ").map(t =>
      MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8")))
    val bit = (d: Array[Byte], j: Int) => (d(j / 8) >> (7 - j % 8)) & 1
    assert((0 until 64).exists(j => bit(ds(0), j) + bit(ds(1), j) == 1))
  }

  test("kernel equals the aggregate reference: rows both ways and schema") {
    val got = queries.DedupOps.simhash64Of(docs)
    val want = reference(docs)
    assert(got.schema === want.schema)
    assert(got.schema.fields.map(_.nullable).toSeq ===
      want.schema.fields.map(_.nullable).toSeq)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    val n = docs.where(col("text").isNotNull).count()
    assert(got.count() === n)
    // the edge rows behave as stated: null text dropped, "" is one
    // (empty) token, repeated tokens count once, the tie bit stays 0
    val edge = got.where(col("doc_id") < 0).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!edge.contains(-1L))
    assert(edge(-2L).getLong(1) === 1L)
    assert(edge(-3L).getLong(1) === 3L)
    assert(edge(-5L).getLong(1) === 2L)
  }

  test("interpreted eval equals codegen") {
    def run(mode: String, wholeStage: String): Seq[String] =
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        queries.DedupOps.simhash64Of(docs).collect().map(_.toString)
          .toSeq.sorted
      }
    val interpreted = run("NO_CODEGEN", "false")
    val codegen = run("CODEGEN_ONLY", "true")
    assert(interpreted.nonEmpty)
    assert(interpreted === codegen)
  }
}
