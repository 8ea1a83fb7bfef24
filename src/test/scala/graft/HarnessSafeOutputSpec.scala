package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, MapType, StructType, DataType}
import org.scalatest.funsuite.AnyFunSuite

/** Harness-safe output schemas over the WHOLE registered query surface.
  *
  * The driver's correctness harness loads each query's parquet into
  * pandas and sorts rows by every column; an `array<...>` column
  * arrives as numpy arrays, which pandas can neither hash nor order —
  * the round-4/round-5 `s6_pca_project` failure mode (`TypeError:
  * unhashable type: 'numpy.ndarray'`), which zeroed the driver's
  * signal for an otherwise-correct operator. That failure is a CLASS:
  * any query whose final select leaves a nested column is unverifiable
  * regardless of its semantics. This spec pins the invariant for every
  * registered query, so a new entry with a nested output column fails
  * CI here instead of silently red-rowing a future round.
  *
  * Rule: every output column must be an atomic, totally-ordered type
  * (numeric / string / boolean / date / timestamp / binary). Nested
  * types (array, map, struct) are banned at the QUERY surface — the
  * underlying operators may of course produce them (`Pca.project`,
  * `Quantize.quantize` do); the query entry must flatten or summarize
  * (per-component scalar columns, integer checksums — see
  * `Pca.s6PcaProject`, `Quantize.s7ScalarQuantize`).
  */
class HarnessSafeOutputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def nested(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  test("every registered query returns only atomic (pandas-sortable) columns") {
    // s9_aflux's only input is the reference's canned AFLUX response
    // (FIXTURES.md §A6), outside the repository: checked where present
    val afluxFixture = java.nio.file.Files.exists(
      java.nio.file.Paths.get(graft.sources.Aflux.PaperFixture))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n != "s9_aflux" || afluxFixture)
    val offenders = names.flatMap { name =>
      val schema = SparkEntry.queries(name)(spark, sf).schema
      val bad = schema.fields.filter(f => nested(f.dataType))
      if (bad.isEmpty) Nil
      else Seq(s"$name: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      "nested output columns (driver harness cannot sort them):\n  " +
        offenders.mkString("\n  "))
  }
}
