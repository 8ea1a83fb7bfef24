package graft
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Builds a scaled copy of the text/embedding tables for the second
  * bench scale point (the driver ships sf ≤ 0.1; scaling exponents
  * need a larger corpus).
  *
  * Each copy is re-keyed and every token gets a per-copy suffix, so
  * WITHIN-copy duplicate structure is preserved exactly while copies
  * share no tokens/shingles — pair counts and dedup work scale
  * linearly with the copy count, which is what makes the measured
  * exponent interpretable (cross-copy near-dups would add an O(c²)
  * term that says nothing about the operators). Embedding labels are
  * offset per copy for the same reason (d5 blocks by label).
  *
  * Suffixes are ALPHABETIC (`qa`, `qb`, …) so the scaled corpus keeps
  * the base corpus's character-class statistics: an earlier `_0`
  * suffix put a non-alpha char in every token, which made
  * `[^a-zA-Z ]`-style normalization regexes do real replacement work
  * only at scale and distorted the regex-heavy operators' measured
  * exponents (t4 looked super-linear purely from the corpus
  * transform).
  *
  * Usage: runMain graft.MakeScale <srcSfDir> <dstDir> <copies>
  * [full|zipf [support]|boiler [megaN]] — "full" additionally scales
  * the relational/event tables (re-keyed, events time-shifted per
  * copy) and copies the dims through. Studies call [[scale]] on their
  * own session.
  *
  * BOILERPLATE MODE (`… <copies> boiler [megaN]`, round-10; VERDICT
  * r9 task 1): the LSH band-bucket skew guard's bounded-recall
  * contract had never been MEASURED because no gate corpus plants a
  * band bucket over DefaultMaxBucket = 4096. This mode unions the
  * default-mode scaled corpus with a TEMPLATED-PAGE family — the
  * cookie-banner/listing-page shape SCALING.md names — at several
  * duplication rates: megaN/2 byte-identical copies of a 42-token
  * template, megaN/4 with 1 mutated token, megaN/8 with 3 and megaN/8
  * with 6 (deterministic mutation positions/tokens, so the corpus is
  * regeneration-stable). The identical family alone exceeds the
  * guard threshold, so d2/d4/d9/d14's mega-bucket paths actually
  * fire; the mutated families give the pair/cluster comparison a
  * RANGE of similarities instead of the trivial est = 1.0 case.
  * Measured by the `GuardRecall` study (guard on vs off: pair recall,
  * cluster equivalence, wall-clock) → bench/guard_recall.json +
  * COVERAGE §guard-recall.
  *
  * ZIPF MODE (`… <copies> zipf [support]`, round-9; VERDICT r8 task
  * 3): the default disjoint-token mode multiplies the 31-token base
  * vocabulary by the copy count, which inflates the model-table
  * family's measured exponents and makes the min-df caps measure as
  * no-ops. Zipf mode instead rewrites every token position with a
  * draw from ONE SHARED rank support (26⁴ alphabetic tokens by
  * default) under a Zipf s = 2 rank law via inverse CDF
  * r = ⌊1/(1−u·(1−1/V))⌋ on an md5-keyed uniform — deterministic and
  * regeneration-stable. s = 2 over a FIXED support gives the
  * empirical web-corpus regime: the OBSERVED vocabulary grows by
  * Heaps' law with β = 1/s = 0.5 (head tokens shared by every copy,
  * tail hapaxes appearing sublinearly), so df-capped model tables
  * grow as √N while the caps prune the hapax band — real pruning at
  * every scale, measurable against the uncapped vocabulary. Doc
  * lengths, ids, languages and per-copy sources keep the default
  * mode's structure; embeddings copy as usual. Zipf dirs are
  * BENCH-ONLY inputs (t-family + sk3), like every scaled dir.
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val spark = Study.session()
    try scale(spark, args(0), args(1), args(2).toInt, args.lift(3).getOrElse(""),
      args.lift(4).map(_.toInt))
    finally spark.stop()
  }

  /** Writes `copies` re-keyed copies of `src` to `dst`. `mode` is ""
    * (documents + embeddings), "full", "zipf" or "boiler"; `modeArg`
    * is zipf's rank support or boiler's megaN. */
  def scale(spark: SparkSession, src: String, dst: String, copies: Int,
      mode: String = "", modeArg: Option[Int] = None): Unit = {
    val idOff = 100000000L

    def alphaSuffix(i: Int): String =
      "q" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val zipfMode = mode == "zipf"
    val docs = spark.read.parquet(s"$src/documents.parquet")

    // zipf mode: every token position becomes a draw from one shared
    // Zipf(s = 2) rank support (see object doc). All-alpha
    // "zw"-prefixed tokens keep the base corpus's character-class
    // statistics; the md5-keyed inverse-CDF keeps the corpus
    // deterministic under regeneration and free of near-dup structure
    // (each copy's draws are independent).
    val zipfV: Int = modeArg.getOrElse(456976) // 26^4
    def zipfText(i: Int): Column = {
      val alphabet = array(('a' to 'z').map(c => lit(c.toString)): _*)
      def letter(q: Column): Column =
        element_at(alphabet, (pmod(q, lit(26)) + 1).cast("int"))
      def tokenAt(p: Column): Column = {
        val u = conv(substring(md5(concat_ws(":",
            lit("zipf"), col("doc_id"), lit(i), p)), 1, 15), 16, 10)
          .cast("double") / lit(1.152921504606846976e18) // 16^15
        // inverse CDF of P(rank = r) ∝ 1/r² truncated at V
        val r = least(lit(zipfV), greatest(lit(1),
          floor(lit(1.0) / (lit(1.0) - u * lit(1.0 - 1.0 / zipfV)))
            .cast("int")))
        concat(lit("zw"), letter(floor(r / 17576).cast("int")),
          letter(floor(r / 676).cast("int")),
          letter(floor(r / 26).cast("int")), letter(r))
      }
      array_join(transform(split(col("text"), " "),
        (_, p) => tokenAt(p)), " ")
    }

    // Disjoint-token mode preserves the t13 STOPWORD set verbatim
    // (round 16, VERDICT r15 #6): suffixing every token erased the
    // Gopher stop-hit signal, so quality gates rejected the entire
    // synthetic corpus — a fixture artifact, not an operator result.
    // Stopwords are shared across documents in any real corpus, and a
    // shingle is cross-copy-shared only when ALL its tokens are
    // stopwords (negligible), so dedup-work linearity survives.
    val stopKeep = graft.queries.TextOps.t13Stopwords
    val scaledDocs = (0 until copies).map { i =>
      val text =
        if (zipfMode) zipfText(i)
        else array_join(transform(split(col("text"), " "),
          t => when(t.isin(stopKeep: _*), t)
            .otherwise(concat(t, lit(alphaSuffix(i))))), " ")
      docs.select(
        (col("doc_id") + lit(i * idOff)).as("doc_id"),
        text.as("text"),
        col("lang"),
        concat(col("source"), lit(s"_$i")).as("source"),
        (if (zipfMode) length(text).cast("long") else col("n_chars"))
          .as("n_chars"))
    }.reduce(_ unionByName _)

    // boilerplate mode: plant the templated-page families (object doc)
    val withBoiler = if (mode != "boiler") scaledDocs else {
      val megaN = modeArg.getOrElse(12000)
      val T = 42
      val template = (1 to T).map(i => s"bpt$i")
      def fam(tag: String, n: Int, idBase: Long, muts: Int) =
        (0 until n).map { j =>
          val toks = template.toArray
          (0 until muts).foreach { m =>
            toks((j * 7 + m * 11) % T) = s"u$tag${j}x$m"
          }
          (idBase + j, toks.mkString(" "))
        }
      val rows = fam("a", megaN / 2, 900000000L, 0) ++
        fam("b", megaN / 4, 910000000L, 1) ++
        fam("c", megaN / 8, 920000000L, 3) ++
        fam("d", megaN / 8, 930000000L, 6)
      import spark.implicits._
      val bdf = rows.toDF("doc_id", "text").select(
        col("doc_id"), col("text"), lit("en").as("lang"),
        lit("boiler").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      scaledDocs.unionByName(bdf)
    }
    withBoiler
      .repartition(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { i =>
      emb.select(
        (col("vec_id") + lit(i * idOff)).as("vec_id"),
        (col("label") + lit(i * 1000)).as("label"),
        col("embedding"))
    }.reduce(_ unionByName _)
      .repartition(32, col("vec_id"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // Relational/event tables (opt-in via 4th arg "full"): fact tables
    // are re-keyed per copy; events are additionally TIME-SHIFTED one
    // year per copy and re-keyed on user_id, so sessions / as-of
    // matches / range-join pairs never cross copies — the workload
    // scales linearly by construction, which is what makes the
    // measured exponent about the operator, not the corpus transform.
    // Dimension tables (region…part) copy through unscaled: at any
    // scale the dims stay broadcast-sized, exactly like production.
    if (mode == "full") {
      val yearNanos = 31557600L * 1000000000L // 365.25 d — ts is epoch-nanos
      // NOTE the physical schema asymmetry this creates: the base
      // events.parquet stores ts as a parquet TIMESTAMP (nanos in the
      // round-1..4 fixtures, micros from round 5); Tables normalizes
      // either to the engine-facing epoch-nanos LongType, and writing
      // the shifted value emits plain BIGINT epoch-nanos. Spark
      // queries see the identical LongType either way (Tables passes
      // raw longs through), but scaled dirs are BENCH-ONLY inputs —
      // the DuckDB oracle (epoch_us/date_trunc on a real timestamp)
      // runs exclusively against the base sf dirs.
      Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach {
        case (t, key) =>
          val fact = spark.read.parquet(s"$src/$t.parquet")
          (0 until copies).map { i =>
            fact.withColumn(key, col(key) + lit(i * idOff))
          }.reduce(_ unionByName _)
            .repartition(32, col(key))
            .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }

      val events = Tables(spark, src, "events")
      (0 until copies).map { i =>
        events.select(
          (col("event_id") + lit(i * idOff)).as("event_id"),
          (col("ts") + lit(i * yearNanos)).as("ts"),
          (col("user_id") + lit(i * idOff)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(32, col("event_id"))
        .write.mode("overwrite").parquet(s"$dst/events.parquet")

      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    }

    println(s"[makescale] wrote $dst at ${copies}x of $src")
  }
}
