package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AflowDsl.{And, Cmp, Or}
import graft.sources.Aflux

/** S9/G10: AFLUX request building + canned-response ingest, mirroring
  * the reference's own socketless test strategy (tests/conftest.py:71–92
  * pre-fills `result.responses` from tests/files/aflow/data.json). */
class AfluxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("paper query builds the AFLUX matchbook URL (S9)") {
    val q = Aflux.paperQuery
    // orderby first ($ = descending), filter fragment, remaining select,
    // then directives.
    assert(q.matchbook ===
      "$agl_thermal_conductivity_300K,Egap(6*)")
    assert(q.requestUrl(1) ===
      "http://aflowlib.duke.edu/search/API/" +
        "?$agl_thermal_conductivity_300K,Egap(6*),$paging(1,20)")
    assert(q.pageUrls().length === 1)
  }

  test("catalog directive, paging, and multi-page limits") {
    val q = Aflux.Query(
      filters = Seq(Cmp("species", "==", "Si")),
      select = Seq("Egap"),
      catalog = Some("icsd"), batchSize = 100, limit = Some(250))
    assert(q.requestUrl(2) ===
      s"${Aflux.DefaultServer}?species(Si),Egap,$$catalog(icsd),$$paging(2,100)")
    assert(q.pageUrls().length === 3)
  }

  test("nested filter compiles to grouped AND/OR condition (F3→S9)") {
    // ((Egap>0)&(Egap<2)) | ((Egap>5)&(Egap<7)) — the docstring example
    // (database/aflux.py:41–54).
    val p = Or(And(Cmp("Egap", ">", 0), Cmp("Egap", "<", 2)),
      And(Cmp("Egap", ">", 5), Cmp("Egap", "<", 7)))
    assert(Aflux.matchbookItems(p) ===
      Seq("Egap" -> "(0*,*2):(5*,*7)"))
    // AND across keywords splits into separate matchbook items.
    val multi = And(Cmp("Egap", ">", 6), Cmp("nspecies", "==", 2))
    assert(multi.productIterator.nonEmpty)
    assert(Aflux.matchbookItems(multi) ===
      Seq("Egap" -> "6*", "nspecies" -> "2"))
    // OR across keywords is not one AFLUX request.
    intercept[IllegalArgumentException] {
      Aflux.matchbookItems(Or(Cmp("Egap", ">", 6), Cmp("nspecies", "==", 2)))
    }
    // a keyword may appear only ONCE in a matchbook: same-keyword
    // conditions inside a cross-keyword AND merge into one block
    val window = And(Cmp("Egap", ">", 0), Cmp("Egap", "<", 2),
      Cmp("nspecies", "==", 2))
    assert(Aflux.matchbookItems(window) ===
      Seq("Egap" -> "0*,*2", "nspecies" -> "2"))
    // String quoting: specials get single quotes, `%` maps to *v*.
    assert(Aflux.matchbookItems(Cmp("author", "%", "curtarolo")) ===
      Seq("author" -> "*curtarolo*"))
    assert(Aflux.matchbookItems(Cmp("aurl", "%", "ICSD_WEB/FCC")) ===
      Seq("aurl" -> "*'ICSD_WEB/FCC'*"))
  }

  test("canned paper responses ingest to configs with keyword mapping (G10)") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(Aflux.PaperFixture)),
      "reference fixture not present")
    val entries = Aflux.responses(spark, Aflux.PaperFixture)
    val rows = entries.orderBy("idx").collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getAs[Long]("total") === 912L))

    val configs = Aflux.s9Aflux(spark, "").collect()
    assert(configs.length === 20)
    val first = configs.head
    assert(first.getAs[String]("auid") === "aflow:db1f17a6f945c29b")
    assert(first.getAs[String]("compound") === "Be1O1")
    assert(math.abs(first.getAs[Double]("egap") - 6.8531) < 1e-9)
    assert(math.abs(first.getAs[Double]("ref_thermal_k") - 83.0737) < 1e-9)
    // fixture is the descending thermal-conductivity paper query
    val ks = configs.map(_.getAs[Double]("ref_thermal_k"))
    assert(ks.zip(ks.tail).forall { case (a, b) => a >= b })
  }

  test("default keyword→param renames apply on ingest (G10)") {
    import spark.implicits._
    val entries = Seq((1, 2L, Map(
      "auid" -> "aflow:x", "compound" -> "Si2", "aurl" -> "u",
      "energy_cell" -> "-5.425", "spacegroup_relax" -> "227")))
      .toDF("idx", "total", "entry")
    val out = Aflux.toConfigs(entries,
      select = Seq("energy_cell", "spacegroup_relax"),
      numeric = Set("energy_cell"))
    assert(out.columns.toSeq ===
      Seq("idx", "total", "auid", "compound", "aurl",
        "ref_energy", "spacegroup_relax"))
    val r = out.collect().head
    assert(math.abs(r.getAs[Double]("ref_energy") - (-5.425)) < 1e-12)
    assert(r.getAs[String]("spacegroup_relax") === "227")
  }
}
