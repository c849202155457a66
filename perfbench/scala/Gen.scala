package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is `xxhash64(row id, salt, seed)`
  * arithmetic over `spark.range`, so one seed always yields the same
  * bytes, and the row counts and planted shares never depend on the seed.
  *
  * The star-schema tables follow the shape of the sf-rung test corpus
  * (same columns, types, value domains and key relationships); `sf`
  * scales their row counts the way the rungs do (sf 0.1 = 600k lineitems).
  *
  * The curation corpus is word-soup `documents` plus planted redundancy:
  * exact copies, shingle near-duplicates (one word altered mid-text),
  * edit variants (the last two characters rewritten, within the
  * edit-dedup threshold) and one hot template cluster (a shared 60-word
  * template with a per-document numbered tail). The vector set is
  * label-biased 64-d `embeddings` plus jittered near-duplicate copies and
  * one dense cluster around a single direction.
  */
object Gen {

  /** Shares of the corpus, in the order the rows are laid out. */
  final case class CorpusShape(n: Int, exact: Double, near: Double,
      edit: Double, hot: Double) {
    val nExact: Int = (n * exact).toInt
    val nNear: Int = (n * near).toInt
    val nEdit: Int = (n * edit).toInt
    val nHot: Int = (n * hot).toInt
    val nBase: Int = n - nExact - nNear - nEdit - nHot
  }

  final case class VectorShape(n: Int, near: Double, dense: Double) {
    val nNear: Int = (n * near).toInt
    val nDense: Int = (n * dense).toInt
    val nBase: Int = n - nNear - nDense
  }

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(salt) :+ lit(seed)): _*)

  /** integer uniform [0, n) */
  private def ui(seed: Long, salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(h(seed, salt, c), lit(n))

  /** uniform [0, 1) */
  private def u(seed: Long, salt: Int): Column =
    ui(seed, salt, 1000000000L) / 1e9

  private def pick(seed: Long, salt: Int, vs: Seq[String], c: Column = col("id")) =
    element_at(array(vs.map(lit): _*), ui(seed, salt, vs.size, c).cast("int") + 1)

  private def day(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Word-soup text of base document `idc`: 10 to 100 vocabulary words. */
  private def baseText(seed: Long, idc: Column): Column = {
    val nw = ui(seed, 33, 91, idc) + 10
    concat_ws(" ", transform(sequence(lit(1L), nw), i =>
      element_at(array(Vocab.map(lit): _*),
        pmod(h(seed, 34, idc, i), lit(Vocab.size.toLong)).cast("int") + 1)))
  }

  def tables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    val nCust = (150000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val ntz = (c: Column) => c.cast("timestamp_ntz")

    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"), dir, "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), dir, "nation")

    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(seed, 1, 25).cast("int").as("c_nationkey"),
      round(u(seed, 2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), dir, "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(seed, 4, 25).cast("int").as("s_nationkey"),
      round(u(seed, 5) * 11000 - 1000, 2).as("s_acctbal")), dir, "supplier")

    val adjectives = Seq("large", "hot", "blue", "dark", "small", "shiny",
      "round", "flat", "cold", "green")
    val nouns = Seq("ring", "bolt", "washer", "cog", "plate", "wheel",
      "pin", "cap", "rod", "disk")
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, 6, adjectives), pick(seed, 7, nouns)).as("p_name"),
      format_string("Brand#%d", ui(seed, 8, 25) + 1).as("p_brand"),
      pick(seed, 9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
        "PROMO")).as("p_type"),
      (ui(seed, 10, 50) + 1).cast("int").as("p_size"),
      round(u(seed, 11) * 99.9 + 900.0, 2).as("p_retailprice")), dir, "part")

    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      ui(seed, 12, nCust).as("o_custkey"),
      pick(seed, 13, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, 14) * 499000 + 1000, 2).as("o_totalprice"),
      ntz(timestamp_seconds(lit(day("1995-01-01") * 86400L) +
        ui(seed, 15, 2405) * 86400L)).as("o_orderdate"),
      pick(seed, 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), dir, "orders")

    // 1-7 lines per order (4 on average), foreign key to orders by construction
    val rid = col("rid")
    write(spark.range(nOrders)
      .select(col("id"), explode(sequence(lit(1L), ui(seed, 17, 7) + 1)).as("ln"))
      .withColumn("rid", col("id") * 8 + col("ln"))
      .select(
        col("id").as("l_orderkey"),
        ui(seed, 18, nPart, rid).as("l_partkey"),
        ui(seed, 19, nSupp, rid).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (ui(seed, 20, 50, rid) + 1).cast("double").as("l_quantity"),
        round(ui(seed, 21, 1000000000L, rid) / 1e9 * 104100 + 900, 2)
          .as("l_extendedprice"),
        (ui(seed, 22, 11, rid) / 100.0).as("l_discount"),
        (ui(seed, 23, 9, rid) / 100.0).as("l_tax"),
        pick(seed, 24, Seq("A", "N", "R"), rid).as("l_returnflag"),
        pick(seed, 25, Seq("F", "O"), rid).as("l_linestatus"),
        ntz(timestamp_seconds(lit(day("1995-01-02") * 86400L) +
          ui(seed, 26, 2498, rid) * 86400L)).as("l_shipdate")),
      dir, "lineitem")

    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      ntz(timestamp_micros(lit(day("2024-01-01") * 86400L * 1000000L) +
        ui(seed, 27, 30L * 86400L * 1000000L))).as("ts"),
      ui(seed, 28, nUsers).as("user_id"),
      pick(seed, 29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(least(-log(lit(1.0) - u(seed, 30) * 0.9999) * 50.0, lit(560.0)), 2)
        .as("value"),
      format_string("{\"k\": %d}", ui(seed, 32, 100)).as("props")), dir, "events")
  }

  /** The curation corpus (`documents`). Rows are laid out base, exact,
    * near, edit, hot; every planted row copies a seeded base document. */
  def documents(spark: SparkSession, dir: String, seed: Long, s: CorpusShape): Unit = {
    val id = col("id")
    val b1 = lit(s.nBase.toLong)
    val b2 = b1 + s.nExact
    val b3 = b2 + s.nNear
    val b4 = b3 + s.nEdit
    val src = ui(seed, 40, s.nBase) // the base document a planted row copies
    val srcText = baseText(seed, src)
    val words = split(srcText, " ")
    val mid = (size(words) / 2 + 1).cast("int")
    // one word altered mid-text (an "x" appended): 3 of the
    // doc's 3-shingles change, so Jaccard stays high (near-duplicate)
    val swapped = array_join(transform(words, (w, i) =>
      when(i + 1 === mid, concat(w, lit("x"))).otherwise(w)), " ")
    // the last two characters rewritten: edit distance 2 on the 60-char key
    val edited = concat(expr("substring(text0, 1, length(text0) - 2)"),
      pick(seed, 41, Seq("qz", "zq", "xy", "yx", "qq", "zz")))
    val template = (1 to 60).map(i => Vocab((i * 7 + (seed % 13).toInt) % Vocab.size))
      .mkString(" ")
    val hot = concat(lit(template + " v"), (id % 97).cast("string"))
    val docs = spark.range(s.n)
      .withColumn("text0", srcText)
      .withColumn("text",
        when(id < b1, baseText(seed, id))
          .when(id < b2, srcText)
          .when(id < b3, swapped)
          .when(id < b4, edited)
          .otherwise(hot))
      .select(
        id.as("doc_id"),
        col("text"),
        element_at(array(Seq("en", "en", "de", "es", "fr", "zh").map(lit): _*),
          ui(seed, 35, 6).cast("int") + 1).as("lang"),
        format_string("src%d", ui(seed, 36, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs, dir, "documents")
  }

  /** The vector set (`embeddings`): rows laid out base, near, dense. */
  def embeddings(spark: SparkSession, dir: String, seed: Long, s: VectorShape): Unit = {
    val id = col("id")
    val nb = s.nBase.toLong
    // base vector of row `r`: uniform noise plus a bias on its label's dims
    def raw(r: Column, label: Column): Column =
      transform(sequence(lit(0L), lit(63L)), i =>
        (pmod(h(seed, 38, r, i), lit(2000L)) - 1000) / 1000.0 +
          when(pmod(i, lit(10L)) === label, 1.5).otherwise(0.0))
    def jitter(v: Column, salt: Int, amp: Double): Column =
      transform(v, (x, i) => x + (pmod(h(seed, salt, id, i), lit(2000L)) - 1000) / 1000.0 * amp)
    val src = ui(seed, 42, nb)
    val srcLabel = ui(seed, 37, 10, src)
    val denseDir = transform(sequence(lit(0L), lit(63L)), i =>
      (pmod(h(seed, 43, lit(0L), i), lit(2000L)) - 1000) / 1000.0)
    val vecs = spark.range(s.n)
      .withColumn("label",
        when(id < nb, ui(seed, 37, 10)).when(id < nb + s.nNear, srcLabel)
          .otherwise(lit(10L)))
      .withColumn("raw",
        when(id < nb, raw(id, col("label")))
          .when(id < nb + s.nNear, jitter(raw(src, srcLabel), 44, 0.02))
          .otherwise(jitter(denseDir, 45, 0.15)))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(
        id.as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label").cast("int").as("label"))
    write(vecs, dir, "embeddings")
  }
}
