package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the corpus the graft queries read: the
  * TPC-H-ish star schema (region, nation, customer, supplier, part,
  * orders, lineitem), the `events` stream table, and the `documents` /
  * `embeddings` curation tables, one `{dir}/{table}.parquet` each.
  *
  * Shapes, value ranges and vocabularies follow the engine's test corpus
  * (see TESTDATA.md / FIXTURES.md at the repo root). Every value is a
  * pure function of (seed, table, row id) through `xxhash64`, never of
  * partitioning or core count, so one seed gives byte-identical inputs on
  * any machine. Only exact IEEE operations (+, *, /, sqrt) touch doubles.
  *
  * Documents are 10% near-duplicates: every doc with `id % 10 == 9`
  * copies one of the eight docs before it with one word substituted, so
  * the dedup and admission paths have real pairs to verify.
  */
object Corpus {

  /** Row counts at scale 1 (the engine's sf0.01 corpus sizes). */
  val base: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
    "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
    "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L,
    "embeddings" -> 500L)

  def rows(scale: Double): Map[String, Long] = base.map { case (t, n) =>
    t -> (if (t == "region" || t == "nation") n
          else math.max(1L, math.round(n * scale)))
  }

  val vocab: Seq[String] = ("row the query stream fast spark line small " +
    "customer group value hash batch sort data big filter dup key agg " +
    "scan slow table part a merge window order column join vector")
    .split(" ").toSeq

  private def h(seed: Long, salt: String, id: Column): Column =
    xxhash64(lit(seed), lit(salt), id)

  /** Uniform integer in [0, n). */
  def int(seed: Long, salt: String, n: Long, id: Column = col("id")): Column =
    pmod(h(seed, salt, id), lit(n))

  /** Uniform double in [0, 1) with 2^-30 resolution. */
  def unit(seed: Long, salt: String, id: Column = col("id")): Column =
    int(seed, salt, 1L << 30, id).cast("double") / lit((1L << 30).toDouble)

  private def pick(choices: Seq[String], idx: Column): Column =
    element_at(array(choices.map(lit): _*), (idx + 1).cast("int"))

  private def money(lo: Double, hi: Double, u: Column): Column =
    round(lit(lo) + u * lit(hi - lo), 2)

  private def day(from: String, days: Int, seed: Long, salt: String): Column =
    to_timestamp(date_add(lit(from).cast("date"),
      int(seed, salt, days.toLong).cast("int")))

  def tables(spark: SparkSession, scale: Double, seed: Long)
      : Map[String, DataFrame] = {
    val n = rows(scale)
    def range(t: String) = spark.range(0, n(t), 1, 1).toDF("id")
    val (nc, ns, np, no) =
      (n("customer"), n("supplier"), n("part"), n("orders"))
    Map(
      "region" -> range("region").select(col("id").cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
          col("id")).as("r_name")),
      "nation" -> range("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        int(seed, "c_nation", 25).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, unit(seed, "c_bal")).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"), int(seed, "c_seg", 5)).as("c_mktsegment")),
      "supplier" -> range("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        int(seed, "s_nation", 25).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, unit(seed, "s_bal")).as("s_acctbal")),
      "part" -> range("part").select(col("id").as("p_partkey"),
        concat_ws(" ",
          pick(Seq("small", "large", "red", "blue", "hot", "cold", "new",
            "old"), int(seed, "p_adj", 8)),
          pick(Seq("bolt", "gear", "ring", "rod", "plate", "anvil",
            "widget", "gizmo"), int(seed, "p_noun", 8))).as("p_name"),
        concat(lit("Brand#"), int(seed, "p_brand", 25) + 1).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
          "PROMO"), int(seed, "p_type", 6)).as("p_type"),
        (int(seed, "p_size", 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000).cast("double") / lit(10.0), 1)
          .as("p_retailprice")),
      "orders" -> range("orders").select(col("id").as("o_orderkey"),
        int(seed, "o_cust", nc).as("o_custkey"),
        pick(Seq("F", "O", "P"), int(seed, "o_status", 3)).as("o_orderstatus"),
        money(1000.0, 500000.0, unit(seed, "o_price")).as("o_totalprice"),
        day("1995-01-01", 2404, seed, "o_date").as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), int(seed, "o_prio", 5)).as("o_orderpriority")),
      "lineitem" -> {
        val qty = (int(seed, "l_qty", 50) + 1).cast("double")
        range("lineitem").select(int(seed, "l_order", no).as("l_orderkey"),
          int(seed, "l_part", np).as("l_partkey"),
          int(seed, "l_supp", ns).as("l_suppkey"),
          (int(seed, "l_line", 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + unit(seed, "l_price") * lit(1200.0)), 2)
            .as("l_extendedprice"),
          (int(seed, "l_disc", 11).cast("double") / lit(100.0)).as("l_discount"),
          (int(seed, "l_tax", 9).cast("double") / lit(100.0)).as("l_tax"),
          pick(Seq("A", "N", "R"), int(seed, "l_rf", 3)).as("l_returnflag"),
          pick(Seq("O", "F"), int(seed, "l_ls", 2)).as("l_linestatus"),
          day("1995-01-02", 2498, seed, "l_ship").as("l_shipdate"))
      },
      "events" -> {
        // ts strictly increases with event_id across a 30-day window
        val step = 30L * 86400L * 1000000L / n("events")
        val u = unit(seed, "e_val")
        range("events").select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * lit(step) +
            int(seed, "e_ts", step)).as("ts"),
          int(seed, "e_user", math.max(1L, nc / 10)).as("user_id"),
          pick(Seq("click", "view", "purchase", "signup", "error"),
            int(seed, "e_type", 5)).as("event_type"),
          round(lit(0.01) + u * u * u * lit(490.0), 2).as("value"),
          format_string("{\"k\": %d}", int(seed, "e_k", 100)).as("props"))
      },
      "documents" -> documents(range("documents"), seed),
      "embeddings" -> embeddings(range("embeddings"), seed))
  }

  private def documents(ids: DataFrame, seed: Long): DataFrame = {
    val dup = col("id") % 10 === 9
    val src = when(dup, col("id") - 1 - int(seed, "d_parent", 8))
      .otherwise(col("id"))
    val len = int(seed, "d_len", 90, src) + 10
    val mut = when(dup, int(seed, "d_mut", 1000) % len).otherwise(lit(-1L))
    val vocabArr = array(vocab.map(lit): _*)
    val words = transform(sequence(lit(0L), len - 1), k =>
      element_at(vocabArr, (pmod(
        when(k === col("mut"), xxhash64(lit(seed), lit("d_sub"), col("id")))
          .otherwise(xxhash64(lit(seed), lit("d_word"), col("src"), k)),
        lit(vocab.size.toLong)) + 1).cast("int")))
    ids.select(col("id"), src.as("src"), mut.as("mut"),
        int(seed, "d_lang", 100).as("lang_u"))
      .select(col("id").as("doc_id"),
        array_join(words, " ").as("text"),
        when(col("lang_u") < 44, "en").when(col("lang_u") < 58, "zh")
          .when(col("lang_u") < 72, "de").when(col("lang_u") < 86, "es")
          .otherwise("fr").as("lang"),
        concat(lit("src"), int(seed, "d_src", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def embeddings(ids: DataFrame, seed: Long): DataFrame = {
    val dims = 64
    def u(salt: String, a: Column, b: Column): Column =
      pmod(xxhash64(lit(seed), lit(salt), a, b), lit(1L << 30))
        .cast("double") / lit((1L << 30).toDouble)
    val raw = transform(sequence(lit(0), lit(dims - 1)), j =>
      (u("v_center", col("label"), j) * 2.0 - 1.0) * 0.6 +
        (u("v_noise", col("id"), j) * 2.0 - 1.0) * 0.5)
    ids.select(col("id"), int(seed, "v_label", 10).cast("int").as("label"))
      .select(col("id"), col("label"), raw.as("raw"))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  /** Writes the query workloads' corpus to `args(0)`, to check their
    * results against the DuckDB oracle (`tools/check.py`). */
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(appName = "graftbench-corpus")
    try write(spark, args(0), Workload.CorpusScale, Workload.CorpusSeed)
    finally spark.stop()
  }

  /** Write every table as ONE parquet file `{dir}/{table}.parquet`, the
    * corpus layout both the engine and the DuckDB oracle read. */
  def write(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit =
    concurrently(tables(spark, scale, seed).toSeq.map { case (t, df) =>
      () => writeSingleFile(df, s"$dir/$t.parquet")
    })

  /** Run independent writes as concurrent Spark jobs and wait for all. */
  def concurrently(writes: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size max 1)
    try writes.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = w()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def writeSingleFile(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = path + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    Files.move(Paths.get(part), Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING)
    Files.walk(Paths.get(staging)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }
}
