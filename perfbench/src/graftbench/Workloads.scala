package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The timed part of one op, returned by [[Op.build]]. */
trait Action {
  def run(): Unit
  /** None when the output is right, else what is wrong. Called after the
    * timed region. */
  def check(): Option[String]
  /** Rows the op produced (the base of the rows-amplification ratio). */
  def resultRows: Long = 0L
  /** Streaming ops report one sample per micro-batch instead of one for
    * the whole call: (start ms, duration ms, input rows). */
  def batches: Seq[(Double, Double, Long)] = Nil
  /** The output fingerprint this op's check compares, once run. */
  def fingerprint: Option[String] = None
}

/** One closed-loop operation. The call to `build` is the op's build
  * phase (plan construction, including any eager jobs); `Action.run` is
  * its action phase. `rows` is the op's declared input size. */
trait Op {
  def name: String
  def rows: Long
  def build(spark: SparkSession): Action
}

trait Workload {
  /** Write the inputs the ops read. Runs in every setup. */
  def stage(spark: SparkSession): Unit
  /** Warm-up ops: every setup runs the first once after staging; the
    * rest run once after the last setup, before the timed region. */
  def warmup: Seq[Op]
  /** The ops of timed pass `p` in run order. */
  def pass(p: Int): Seq[Op]
  /** Micro-batch samples an op is expected to yield when it fails
    * (counted as failed ops). */
  def expectedBatches(op: Op): Int = 0
}

object Workload {
  /** Corpus scale of the query workloads (1 = 60k lineitem rows). */
  val CorpusScale = 1.0
  /** The corpus has a fixed seed: the workload seed only permutes op
    * order, so output fingerprints can be committed once. */
  val CorpusSeed = 20240101L

  def apply(name: String, seed: Long, dir: String,
      expected: Map[String, String]): Workload = name match {
    case "analytics" => new Queries(name, Analytics, seed, dir, expected)
    case "curation" => new Queries(name, Curation, seed, dir, expected)
    case "ingest" => new Ingest(seed, dir, expected)
    case "demo_join" => new DemoJoin(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Query → the corpus tables it names (its declared input). */
  val Analytics: Seq[(String, Seq[String])] = Seq(
    "q05_groupby_sum" -> Seq("lineitem"),
    "q07_join_inner" -> Seq("customer", "orders"),
    "q16_sort_topk" -> Seq("lineitem"),
    "q22_window" -> Seq("lineitem"),
    "q27_demo_pipeline" -> Seq("customer", "orders"),
    "q29_events_hourly" -> Seq("events"),
    "q31_asof_join" -> Seq("orders", "events"),
    "q47_pricing_summary" -> Seq("lineitem"),
    "q49_local_supplier_volume" ->
      Seq("region", "nation", "customer", "orders", "lineitem"),
    "q64_window_highcard" -> Seq("lineitem"),
    "q119_latest_order" -> Seq("orders"),
    "q226_rolling_distinct" -> Seq("events"),
    "q232_rfm_segments" -> Seq("customer", "orders"),
    "q130_pagerank" -> Seq("lineitem"))

  val Curation: Seq[(String, Seq[String])] = Seq(
    "q32_text_stats" -> Seq("documents"),
    "q39_minhash_pairs" -> Seq("documents"),
    "q43_knn_brute" -> Seq("embeddings"),
    "q67_corpus_filter" -> Seq("documents"),
    "q85_incremental_dedup" -> Seq("documents"),
    "q116_decontaminate" -> Seq("documents"),
    "q135_ann_knn_join" -> Seq("embeddings"),
    "q195_dup_spans" -> Seq("documents"),
    "q199_label_prop" -> Seq("embeddings"),
    "q205_hard_negatives" -> Seq("embeddings"),
    "q211_pq_encode" -> Seq("embeddings"))

  /** Seeded permutation of `xs` for pass `p`. */
  def permute[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)
}

/** analytics / curation: graft's named queries over the generated corpus,
  * each materialized through the `noop` sink, in a seeded order per pass.
  * The fingerprint rides on the same execution as an observation. */
final class Queries(workload: String, ops: Seq[(String, Seq[String])],
    seed: Long, dir: String, expected: Map[String, String]) extends Workload {
  private val tables = ops.flatMap(_._2).distinct
  private val sizes = Corpus.rows(Workload.CorpusScale)

  def stage(spark: SparkSession): Unit =
    Corpus.concurrently(Corpus.tables(spark, Workload.CorpusScale, Workload.CorpusSeed)
      .toSeq.filter { case (t, _) => tables.contains(t) }
      .map { case (t, df) => () => Corpus.writeSingleFile(df, s"$dir/$t.parquet") })

  private val all: Seq[Op] = ops.map { case (q, ts) =>
    new Op {
      val name = q
      val rows = ts.map(sizes).sum
      def build(spark: SparkSession): Action = {
        val (df, print) = Fingerprint.observe(graft.SparkEntry.queries(q)(spark, dir))
        new Action {
          private var got: Fingerprint.Print = _
          def run(): Unit = {
            df.write.format("noop").mode("overwrite").save()
            got = print()
          }
          override def resultRows: Long = got.rows
          override def fingerprint: Option[String] = Option(got).map(_.toString)
          def check(): Option[String] = expected.get(s"$workload/$q") match {
            case Some(want) if want == got.toString => None
            case Some(want) => Some(s"fingerprint $got, expected $want")
            case None => Some(s"no committed fingerprint (got $got)")
          }
        }
      }
    }
  }

  /** A full pass: a query's first run in a session pays its plans'
    * code generation, and which query pays for shared JIT warm-up
    * depends on the order, which would make a cold pass seed-dependent.
    * Set-up always warms with the first listed query, so set-up does the
    * same work for every seed. */
  def warmup: Seq[Op] = all.head +: Workload.permute(all.tail, seed, -1)
  def pass(p: Int): Seq[Op] = Workload.permute(all, seed, p)
}

/** ingest: a seeded ~80% of the documents form the initial band index
  * (`index_build`, timed), the rest arrive as parquet files streamed
  * through `IngestStream.start` one file per micro-batch. One pass
  * rebuilds the index and streams every file into a fresh store. */
final class Ingest(seed: Long, dir: String, expected: Map[String, String])
    extends Workload {
  val Docs = 1000
  val Files = 2
  private val perm = new Random(seed).shuffle((0 until Docs).toList)
  private val initialIds = perm.drop(Files * Ingest.PerFile).sorted
  private val fileIds: Seq[Seq[Int]] =
    perm.take(Files * Ingest.PerFile).grouped(Ingest.PerFile).map(_.sorted).toSeq
  private val incoming = s"$dir/incoming"

  private def docs(spark: SparkSession): DataFrame =
    Corpus.tables(spark, Docs.toDouble / Corpus.base("documents"),
      Workload.CorpusSeed)("documents")

  def stage(spark: SparkSession): Unit = {
    import spark.implicits._
    val all = docs(spark)
    def subset(ids: Seq[Int]) = all.join(ids.map(_.toLong).toDF("doc_id"), "doc_id")
    new java.io.File(incoming).mkdirs()
    val files = fileIds.indices.map(i => f"$incoming/batch-$i%03d.parquet")
    Corpus.concurrently(
      (() => Corpus.writeSingleFile(subset(initialIds), s"$dir/initial.parquet")) +:
        fileIds.zip(files).map { case (ids, path) =>
          () => Corpus.writeSingleFile(subset(ids), path) })
    // mtimes order the files so micro-batch i reads file i
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    files.zipWithIndex.foreach { case (path, i) =>
      new java.io.File(path).setLastModified(t0 + i * 1000L)
    }
  }

  override def expectedBatches(op: Op): Int = if (op.name == "stream") Files else 0

  /** Set-up warms with an index build only: a stream pass costs as much
    * as the timed region itself. */
  def warmup: Seq[Op] = Seq(indexBuild)
  def pass(p: Int): Seq[Op] = Seq(indexBuild, stream(s"p$p"))

  private val indexBuild: Op = new Op {
    val name = "index_build"
    val rows = initialIds.size.toLong
    def build(spark: SparkSession): Action = {
      graft.operators.Dedup.writeBandIndex(
        spark.read.parquet(s"$dir/initial.parquet"), "doc_id", "text",
        Ingest.BandTable, k = 8, rows = 2)
      new Action {
        def run(): Unit = ()
        def check(): Option[String] = None
      }
    }
  }

  private def stream(tag: String): Op = new Op {
    val name = "stream"
    val rows = (Files * Ingest.PerFile).toLong
    def build(spark: SparkSession): Action = {
      val store = s"$dir/store-$tag"
      val source = spark.readStream.schema(docs(spark).schema)
        .option("maxFilesPerTrigger", "1").parquet(incoming)
        .select("doc_id", "text")
      val q: StreamingQuery = graft.streaming.IngestStream.start(source,
        Ingest.BandTable, store, s"$dir/checkpoint-$tag", "doc_id", "text")
      new Action {
        def run(): Unit = try q.awaitTermination() finally q.stop()
        override def batches: Seq[(Double, Double, Long)] =
          q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
            (java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
              p.durationMs.get("triggerExecution").doubleValue, p.numInputRows)
          }
        private lazy val admitted: Seq[Long] =
          spark.read.parquet(store).select("doc_id").collect().map(_.getLong(0)).toSeq
        override def resultRows: Long = admitted.size.toLong
        override def fingerprint: Option[String] = Some(Ingest.print(admitted))
        def check(): Option[String] = verify(spark, admitted)
      }
    }
  }

  /** Admitted docs are a duplicate-free subset of the streamed docs (so
    * admitted + rejected = streamed), every rejected doc has a generated
    * near-duplicate partner (it is a copy, or the original of a copy),
    * and for seeds with a committed fingerprint the admitted set matches
    * it. */
  private def verify(spark: SparkSession, got: Seq[Long]): Option[String] = {
    val streamed = fileIds.flatten.map(_.toLong).toSet
    val rejected = streamed -- got
    val partnered = Ingest.partnered(spark, Docs, Workload.CorpusSeed)
    val print = Ingest.print(got)
    if (got.distinct.size != got.size) Some("duplicate admitted ids")
    else if (!got.forall(streamed)) Some("admitted ids outside the batches")
    else if (!rejected.forall(partnered)) Some(
      s"rejected docs without a near-duplicate: ${(rejected -- partnered).take(5)}")
    else expected.get(s"ingest/seed$seed") match {
      case Some(want) if want != print => Some(s"admitted set $print, expected $want")
      case _ => None
    }
  }
}

object Ingest {
  val PerFile = 100
  val BandTable = "graftbench_band_index"

  /** Doc ids that have a near-duplicate in the generated corpus: every
    * copy (`id % 10 == 9`) and the doc it was copied from. Mirrors
    * [[Corpus]]'s documents generator. */
  def partnered(spark: SparkSession, docs: Int, seed: Long): Set[Long] =
    spark.range(docs).filter(col("id") % 10 === 9)
      .select(col("id"), col("id") - 1 - Corpus.int(seed, "d_parent", 8))
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet

  def print(ids: Seq[Long]): String = {
    val sorted = ids.sorted
    s"${sorted.size}:${sorted.foldLeft(17L)((h, x) => h * 31L + x)}"
  }
}

/** demo_join: the reference Demo pipeline through graft's Table surface
  * (inner join on two string keys, groupby(city).count, collect) over
  * `N` generated rows per side. The ages side is a seeded permutation of
  * the users' keys, so the join is 1:1 and the result must equal the
  * users table grouped by city. */
final class DemoJoin(seed: Long, dir: String) extends Workload {
  val N = 500000L
  private var expected: Map[String, Long] = Map.empty

  private def perm(a: Long, b: Long) = pmod(col("id") * lit(a) + lit(b), lit(N))

  def stage(spark: SparkSession): Unit = {
    val rnd = new Random(seed)
    // multipliers coprime to N (= 2^5 * 5^6) make both key maps bijections
    def coprime(): Long = Iterator.continually(rnd.nextInt(900000) + 100001L)
      .find(a => a % 2 != 0 && a % 5 != 0).get
    val (a1, b1, a2, b2) = (coprime(), rnd.nextInt(N.toInt).toLong,
      coprime(), rnd.nextInt(N.toInt).toLong)
    val users = spark.range(N).select(
      concat(lit("A"), perm(a1, b1)).as("first_name"),
      concat(lit("B"), perm(a1, b1)).as("last_name"),
      col("id").cast("int").as("user_id"),
      concat(lit("C"), pmod(xxhash64(lit(seed), col("id")), lit(101L))).as("city"))
    val ages = spark.range(N).select(perm(a2, b2).as("k")).select(
      concat(lit("A"), col("k")).as("first_name"),
      concat(lit("B"), col("k")).as("last_name"),
      (col("k") % 100).as("age"))
    Corpus.concurrently(Seq(
      () => users.write.mode("overwrite").parquet(s"$dir/users"),
      () => ages.write.mode("overwrite").parquet(s"$dir/ages")))
    expected = DemoJoin.cityCounts(seed, N)
  }

  private val op: Op = new Op {
    val name = "demo_join"
    val rows = 2 * N
    def build(spark: SparkSession): Action = {
      val t = graft.Table.readParquet(spark, s"$dir/users")
        .join(graft.Table.readParquet(spark, s"$dir/ages"),
          Seq("first_name", "last_name"))
        .groupby("city").count("user_id")
      new Action {
        private var got: Map[String, Long] = Map.empty
        def run(): Unit =
          got = t.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        override def resultRows: Long = got.size.toLong
        def check(): Option[String] =
          if (got.values.sum != N) Some(s"counts sum to ${got.values.sum}, not $N")
          else if (got != expected) Some("per-city counts differ from users grouped by city")
          else None
      }
    }
  }

  def warmup: Seq[Op] = Seq(op)
  def pass(p: Int): Seq[Op] = Seq(op)
}

object DemoJoin {
  /** Users per city straight from the generator's formula, computed on
    * the driver without Spark: `xxhash64(seed, id)` chains the seed's hash
    * (under Spark's default hash seed, 42) into the id's. */
  def cityCounts(seed: Long, n: Long): Map[String, Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.hashLong
    val counts = new Array[Long](101)
    val h0 = hashLong(seed, 42L)
    var i = 0L
    while (i < n) { counts(Math.floorMod(hashLong(i, h0), 101L).toInt) += 1; i += 1 }
    counts.zipWithIndex.collect { case (c, k) if c > 0 => s"C$k" -> c }.toMap
  }
}
