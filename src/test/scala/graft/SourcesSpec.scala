package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Config, Formula}
import graft.sources.{Cfg, ExtXyz, Poscar}

class SourcesSpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()

  private val a = 4.05
  private def cfg: Config = Config.of(
    Seq("Ag", "Ag", "Pd"),
    Seq(Seq(a, 0.0, 0.0), Seq(0.1, a, 0.0), Seq(0.0, 0.0, a)),
    Seq(Seq(0.0, 0.0, 0.0), Seq(0.0, a / 2, a / 2), Seq(a / 2, 0.0, a / 2)))
    .copy(energy = Some(-3.25),
      force = Some(Seq(Seq(0.1, 0.0, -0.1), Seq(0.2, 0.1, 0.0),
        Seq(-0.3, -0.1, 0.1))),
      virial = Some(Seq(1.0, 0.1, 0.2, 0.1, 2.0, 0.3, 0.2, 0.3, 3.0)))

  test("POSCAR round-trip (S3)") {
    val r = Poscar.read(Poscar.write(cfg))
    assert(r.species === cfg.species)
    assert(r.n === cfg.n)
    for (i <- 0 until 3; j <- 0 until 3)
      assert(math.abs(r.cell(i)(j) - cfg.cell(i)(j)) < 1e-10)
    for (i <- 0 until cfg.n; j <- 0 until 3)
      assert(math.abs(r.positions(i)(j) - cfg.positions(i)(j)) < 1e-10)
  }

  test("POSCAR direct-coordinate read (S3)") {
    val text =
      """Si2
        |1.0
        |  5.43 0.0 0.0
        |  0.0 5.43 0.0
        |  0.0 0.0 5.43
        |Si
        |2
        |Direct
        |  0.0 0.0 0.0
        |  0.25 0.25 0.25
        |""".stripMargin
    val r = Poscar.read(text)
    assert(r.n === 2)
    assert(math.abs(r.positions(1)(0) - 0.25 * 5.43) < 1e-10)
  }

  test("extxyz round-trip with energy and forces (S3)") {
    val frames = ExtXyz.read(ExtXyz.write(cfg) + ExtXyz.write(cfg))
    assert(frames.length === 2)
    val r = frames.head
    assert(r.species === cfg.species)
    assert(math.abs(r.energy.get - cfg.energy.get) < 1e-9)
    for (i <- 0 until cfg.n; j <- 0 until 3) {
      assert(math.abs(r.positions(i)(j) - cfg.positions(i)(j)) < 1e-9)
      assert(math.abs(r.force.get(i)(j) - cfg.force.get(i)(j)) < 1e-9)
    }
  }

  test("legacy ingest conforms keys and limit-samples deterministically") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions").getOrCreate()
    val frames = (1 to 5).map { i =>
      graft.sources.ExtXyz.write(cfg.copy(
        positions = cfg.positions.map(_.map(_ + i * 0.1))))
    }.mkString
    val all = graft.sources.Legacy.ingest(spark, Seq(frames))
    assert(all.count() === 5)
    all.collect().foreach(c => assert(c.configType === Some("legacy")))
    val lim = graft.sources.Legacy.ingest(spark, Seq(frames), limit = Some(3))
    val ids1 = lim.collect().map(_.uuid).toSeq
    val ids2 = graft.sources.Legacy.ingest(spark, Seq(frames), limit = Some(3))
      .collect().map(_.uuid).toSeq
    assert(ids1.length === 3)
    assert(ids1 === ids2) // deterministic replay
  }

  test("MTP CFG round-trip (S4/S5)") {
    val tm = Formula.typeMap(cfg.species)
    val inv = Formula.inverseTypeMap(cfg.species)
    val r = Cfg.read(Cfg.write(cfg, tm), inv)
    assert(r.length === 1)
    val c = r.head
    assert(c.species === cfg.species)
    assert(math.abs(c.energy.get - cfg.energy.get) < 1e-8)
    for (i <- 0 until cfg.n; j <- 0 until 3)
      assert(math.abs(c.force.get(i)(j) - cfg.force.get(i)(j)) < 1e-8)
    // symmetric virial survives the 6-component stress round-trip
    val v = c.virial.get
    for (i <- Seq(0, 1, 2, 4, 5, 8))
      assert(math.abs(v(i) - cfg.virial.get(i)) < 1e-8)
  }

  test("tarball sink: ustar round-trip, system-tar interop, sharded output (S15)") {
    import graft.sources.Tar
    val entries = Seq(
      Tar.Entry("cfg-1/POSCAR", "Ag fcc\n1.0\n".getBytes("UTF-8")),
      Tar.Entry("cfg-2/POSCAR", ("x" * 700).getBytes("UTF-8")), // >1 block
      Tar.Entry("cfg-2/OUTCAR", Array[Byte]())) // empty file
    // codec round-trip
    val rt = Tar.decode(Tar.encode(entries))
    assert(rt.map(_.name) === entries.map(_.name))
    rt.zip(entries).foreach { case (a, b) =>
      assert(a.bytes.toSeq === b.bytes.toSeq)
    }
    // gzip round-trip
    assert(Tar.gunzip(Tar.gzip(Tar.encode(entries))).toSeq ===
      Tar.encode(entries).toSeq)
    // determinism: identical input → byte-identical archive
    assert(Tar.encode(entries).toSeq === Tar.encode(entries).toSeq)
    // interop: the system tar must list and extract our archive
    val tarBin = new java.io.File("/bin/tar")
    val tarBin2 = new java.io.File("/usr/bin/tar")
    assume(tarBin.exists() || tarBin2.exists(), "no system tar")
    val dir = java.nio.file.Files.createTempDirectory("tarspec")
    val f = dir.resolve("out.tar")
    java.nio.file.Files.write(f, Tar.encode(entries))
    val list = new ProcessBuilder("tar", "-tf", f.toString)
      .redirectErrorStream(true).start()
    val names = new String(list.getInputStream.readAllBytes(), "UTF-8")
    assert(list.waitFor() === 0, s"system tar rejected the archive: $names")
    assert(names.trim.split("\n").toSeq === entries.map(_.name))
    val ex = new ProcessBuilder("tar", "-xf", f.toString, "-C", dir.toString)
      .redirectErrorStream(true).start()
    assert(ex.waitFor() === 0)
    assert(java.nio.file.Files.readAllBytes(dir.resolve("cfg-2/POSCAR")).length === 700)
    // sharded sink over a Dataset: one tar.gz per non-empty partition
    import spark.implicits._
    val ds = Seq(cfg, cfg.copy(uuid = "u2"), cfg.copy(uuid = "u3"))
      .toDS().repartition(2)
    val outDir = dir.resolve("shards").toString
    val shards = graft.sources.Tar.tarballSink[Config](ds, outDir,
      c => Seq(Tar.Entry(s"${c.uuid.take(12)}/POSCAR",
        Poscar.write(c).getBytes("UTF-8"))))
    assert(shards.nonEmpty && shards.forall(_.endsWith(".tar.gz")))
    val back = shards.flatMap(p =>
      Tar.decode(Tar.gunzip(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)))))
    assert(back.map(_.name).toSet ===
      Set(cfg.uuid.take(12), "u2", "u3").map(_ + "/POSCAR"))
    assert(back.forall(_.bytes.nonEmpty))
  }

  test("HDF5 reader parses the reference's REAL atoms.h5 fixtures (S-h5)") {
    // tests/files/test.h5 — written by h5py via Atoms.write; the
    // pure-JVM reader must extract the same dict Atoms.read sees
    assume(Seq("/root/reference/tests/files/test.h5",
      "/root/reference/tests/database/files/p-50-2.h5")
      .forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "reference fixture not present")
    val c = graft.sources.Hdf5.readAtoms("/root/reference/tests/files/test.h5")
    assert(c.n === 8)
    assert(c.symbols === "Si8")
    assert(c.positions.length === 8 && c.positions.forall(_.length === 3))
    for (i <- 0 until 3; j <- 0 until 3)
      assert(math.abs(c.cell(i)(j) - (if (i == j) 5.43 else 0.0)) < 1e-12)
    assert(c.uuid.nonEmpty)
    assert(c.params.contains("vasp_energy"))
    // tests/database/files/p-50-2.h5 — an AtomsList file: 50 atom_* groups
    val list = graft.sources.Hdf5.readAtomsList(
      "/root/reference/tests/database/files/p-50-2.h5")
    assert(list.length === 50)
    assert(list.forall(a => a.n > 0 && a.positions.length == a.n))
    assert(list.map(_.uuid).distinct.length === 50)
  }

  test("HDF5 round-trip: Config → atoms.h5 → ingest → parquet, uuid/params preserved") {
    val dir = java.nio.file.Files.createTempDirectory("h5rt").toString
    val cfg = graft.core.Config.of(
      Seq("Ag", "Pd", "Ag"),
      Seq(Seq(4.05, 0.0, 0.0), Seq(0.0, 4.05, 0.0), Seq(0.0, 0.0, 4.05)),
      Seq(Seq(0.0, 0.0, 0.0), Seq(2.0, 2.0, 0.0), Seq(2.0, 0.0, 2.0)))
      .copy(params = Map("rattle" -> "0.02", "seed" -> "42"),
        energy = Some(-3.25))
    graft.sources.Hdf5.writeAtoms(s"$dir/atoms.h5", cfg)
    val back = graft.sources.Hdf5.readAtoms(s"$dir/atoms.h5")
    assert(back.uuid === cfg.uuid)
    assert(back.params === cfg.params)
    assert(back.symbols === cfg.symbols)
    assert(back.species === cfg.species)
    for (i <- cfg.positions.indices; j <- 0 until 3)
      assert(math.abs(back.positions(i)(j) - cfg.positions(i)(j)) < 1e-12)
    assert(math.abs(back.energy.get - cfg.energy.get) < 1e-12)
    // distributed one-shot ingest → parquet
    import spark.implicits._
    val ds = graft.sources.Hdf5.ingest(spark, s"$dir/atoms.h5")
    ds.write.mode("overwrite").parquet(s"$dir/configs.parquet")
    val re = spark.read.parquet(s"$dir/configs.parquet")
      .as[graft.core.Config].collect()
    assert(re.length === 1)
    assert(re.head.uuid === cfg.uuid && re.head.params === cfg.params)
  }
}
