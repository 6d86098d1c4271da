package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for every input the benchmark hands the program.
  *
  * Each value is a pure function of (seed, salt, row id) through
  * `xxhash64`, so a table is the same whatever the partitioning, the
  * core count or the machine. Shapes follow the TPC-H-like testdata the
  * program's queries were written against (same columns, types and
  * value domains), at a scale factor the benchmark chooses.
  */
object DataGen {

  private def h(seed: Long, salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [lo, hi]. */
  private def int(seed: Long, salt: String, lo: Long, hi: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(hi - lo + 1)) + lit(lo)

  /** Uniform double in [0, 1). */
  private def uni(seed: Long, salt: String, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(1L << 52)).cast("double") / lit((1L << 52).toDouble)

  private def pick(values: Seq[String], seed: Long, salt: String, cs: Column*): Column =
    element_at(array(values.map(lit): _*),
      (int(seed, salt, 0, values.size - 1, cs: _*) + 1).cast("int"))

  private def cents(c: Column): Column = round(c, 2)

  private val day0 = "1995-01-01"

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The ten tables of the testdata layout, written as one parquet file
    * each under `dir`. Relational row counts scale like the testdata (sf
    * 0.01 gives 60k lineitem rows, about 4 per order, and 10k events);
    * the document and embedding tables hold `docs` rows each. */
  def tables(spark: SparkSession, dir: String, sf: Double, docs: Long, seed: Long): Unit = {
    val nCust = math.round(150000 * sf)
    val nSupp = math.max(10L, math.round(10000 * sf))
    val nPart = math.round(200000 * sf)
    val nOrders = math.round(1500000 * sf)
    val nEvents = math.round(1000000 * sf)
    val id = col("id")

    write(spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"), dir, "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      dir, "nation")
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      int(seed, "c_nation", 0, 24, id).cast("int").as("c_nationkey"),
      cents(uni(seed, "c_bal", id) * 10999.99 - 999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        seed, "c_seg", id).as("c_mktsegment")), dir, "customer")
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      int(seed, "s_nation", 0, 24, id).cast("int").as("s_nationkey"),
      cents(uni(seed, "s_bal", id) * 10999.99 - 999.99).as("s_acctbal")), dir, "supplier")
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("small", "red", "blue", "hot", "green", "large", "shiny", "old"), seed, "p_adj", id),
        pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "valve", "panel", "spring"), seed, "p_noun", id))
        .as("p_name"),
      concat(lit("Brand#"), int(seed, "p_brand", 1, 25, id)).as("p_brand"),
      pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), seed, "p_type", id)
        .as("p_type"),
      int(seed, "p_size", 1, 50, id).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10.0).as("p_retailprice")), dir, "part")

    val orderDate = date_add(lit(day0).cast("date"),
      int(seed, "o_date", 0, 2403, col("o_orderkey")).cast("int"))
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      int(seed, "o_cust", 0, nCust - 1, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), seed, "o_status", id).as("o_orderstatus"),
      cents(uni(seed, "o_price", id) * 498900.0 + 1000.0).as("o_totalprice"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), seed, "o_prio", id)
        .as("o_orderpriority"))
      .withColumn("o_orderdate", orderDate.cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    write(orders, dir, "orders")

    val ok = col("l_orderkey")
    val ln = col("l_linenumber")
    val qty = int(seed, "l_qty", 1, 50, ok, ln).cast("double")
    write(spark.range(nOrders)
      .select(id.as("l_orderkey"), explode(sequence(lit(1),
        int(seed, "l_n", 1, 7, id).cast("int"))).as("l_linenumber"))
      .select(ok, int(seed, "l_part", 0, nPart - 1, ok, ln).as("l_partkey"),
        int(seed, "l_supp", 0, nSupp - 1, ok, ln).as("l_suppkey"), ln,
        qty.as("l_quantity"),
        cents(qty * (lit(900.0) + uni(seed, "l_unit", ok, ln) * 1200.0)).as("l_extendedprice"),
        (int(seed, "l_disc", 0, 10, ok, ln).cast("double") / 100.0).as("l_discount"),
        (int(seed, "l_tax", 0, 8, ok, ln).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), seed, "l_rf", ok, ln).as("l_returnflag"),
        pick(Seq("F", "O"), seed, "l_ls", ok, ln).as("l_linestatus"),
        date_add(lit(day0).cast("date"),
          int(seed, "l_ship", 1, 2497, ok, ln).cast("int")).cast("timestamp").as("l_shipdate")),
      dir, "lineitem")

    write(spark.range(nEvents).select(id.as("event_id"),
      (lit(1704067200L) + id * (2592000L / nEvents) +
        int(seed, "e_jit", 0, 2592000L / nEvents, id)).cast("timestamp").as("ts"),
      int(seed, "e_user", 0, 149, id).as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), seed, "e_type", id).as("event_type"),
      cents(uni(seed, "e_val", id) * 490.0 + 0.01).as("value"),
      format_string("{\"k\": %d}", int(seed, "e_k", 0, 99, id)).as("props")), dir, "events")

    write(documents(spark, docs, seed, 0L), dir, "documents")
    write(embeddings(spark, docs, seed, 0L), dir, "embeddings")
  }

  /** The 30-word vocabulary of the testdata documents. */
  val DocVocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Random text of `minTok`..`maxTok` words, a pure function of `content`. */
  def text(seed: Long, content: Column, vocab: Seq[String], minTok: Int, maxTok: Int): Column = {
    val v = array(vocab.map(lit): _*)
    array_join(transform(
      sequence(lit(1), int(seed, "d_len", minTok, maxTok, content).cast("int")),
      i => element_at(v, (int(seed, "d_tok", 0, vocab.size - 1, content, i) + 1).cast("int"))),
      " ")
  }

  /** `n` documents with ids from `firstId`, in the testdata's shape:
    * 10..100 tokens; about 5% are near-duplicates of an earlier document
    * (its text plus the token "dup") and 0.2% exact copies. */
  def documents(spark: SparkSession, n: Long, seed: Long, firstId: Long): DataFrame = {
    val id = col("id")
    val r = uni(seed, "d_kind", id)
    val back = int(seed, "d_back", 1, 50, id)
    val content = when(r < 0.052 && id - back >= firstId, id - back).otherwise(id)
    val suffix = when(r < 0.05 && id - back >= firstId, lit(" dup")).otherwise(lit(""))
    spark.range(firstId, firstId + n)
      .select(id.as("doc_id"), concat(text(seed, content, DocVocab, 10, 100), suffix).as("text"),
        pick(Seq("en", "en", "en", "zh", "de", "fr", "es"), seed, "d_lang", id).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` unit vectors of the program's embedding width in ten label
    * clusters, ids from `firstId`. */
  def embeddings(spark: SparkSession, n: Long, seed: Long, firstId: Long): DataFrame = {
    val dim = graft.operators.Similarity.EmbeddingDim
    val id = col("id")
    val label = int(seed, "v_label", 0, 9, id)
    // centre + noise, each component uniform in [-1, 1)
    val raw = transform(sequence(lit(0), lit(dim - 1)), j =>
      (uni(seed, "v_centre", label, j) * 2.0 - 1.0) * 0.7 +
        (uni(seed, "v_noise", id, j) * 2.0 - 1.0) * 0.5)
    spark.range(firstId, firstId + n)
      .select(id.as("vec_id"), label.cast("int").as("label"), raw.as("raw"))
      .select(col("vec_id"), col("label"), col("raw"),
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)).as("norm"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** Genres of the apps table, most popular first (Zipf-weighted draw). */
  val Genres: Seq[String] = graft.apps.AppSchema.genreToIconMap.keys
    .filter(_ != "default").toSeq.sorted

  private val titleWords = Seq("Super", "Chess", "Photo", "Music", "Bank", "Weather",
    "Runner", "Puzzle", "Notes", "Map", "Fit", "Chat", "Shop", "Travel", "Book",
    "Camera", "Video", "Quiz", "Star", "Cloud", "Daily", "Smart", "Pocket", "World")

  /** Index in [0, n) drawn with Zipf(1) weights — rank r has weight 1/(r+1). */
  def zipf(seed: Long, salt: String, n: Int, cs: Column*): Column = {
    val cum = (1 to n).scanLeft(0.0)((a, r) => a + 1.0 / r).tail
    val u = uni(seed, salt, cs: _*) * cum.last
    cum.zipWithIndex.init.foldRight(lit(n - 1)) { case ((c, i), acc) =>
      when(u < c, lit(i)).otherwise(acc)
    }
  }

  /** Title of app `id` — pure, so the serving load can ask for it. */
  def appTitle(seed: Long, id: Long): String = {
    val r = new scala.util.Random(seed * 1000003L + id)
    s"${titleWords(r.nextInt(titleWords.size))} ${titleWords(r.nextInt(titleWords.size))} $id"
  }

  /** The raw all-string apps table the training job reads: `n` apps with
    * Zipf-skewed genres, 2% null scores and 1% null prices (rows the
    * training filter drops and serving reports with a null cluster). */
  def apps(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val titles = udf((i: Long) => appTitle(seed, i))
    spark.range(n).select(
      concat(lit("com.app"), id).as("appId"),
      titles(id).as("title"),
      element_at(array(Genres.map(lit): _*), zipf(seed, "a_genre", Genres.size, id) + 1).as("genre"),
      when(uni(seed, "a_null", id) < 0.02, lit(null).cast("string"))
        .otherwise(round(uni(seed, "a_score", id) * 4.0 + 1.0, 1).cast("string")).as("score"),
      pow(lit(10.0), int(seed, "a_inst", 2, 9, id)).cast("long").cast("string").as("minInstalls"),
      when(uni(seed, "a_null", id) > 0.99, lit(null).cast("string"))
        .when(uni(seed, "a_paid", id) < 0.8, lit("0.0"))
        .otherwise(cents(uni(seed, "a_price", id) * 9.0 + 0.99).cast("string")).as("price"),
      concat(lit("icons/"), id, lit(".png")).as("icon_path"))
  }
}
