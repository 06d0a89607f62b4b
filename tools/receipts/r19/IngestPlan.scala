import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Prints the executed (AQE-final) plan of the frame one IngestStream
  * micro-batch cuts as `admitted`, built with the same calls
  * processBatch makes: an index over documents with doc_id % 5 != 0,
  * then one 100-doc batch of doc_id % 5 == 0. Produced
  * plans/r19/ingest_admission_{before,after}.txt from the sf0.01 corpus.
  *
  * Compile against graft's classes (e.g. perfbench's
  * .bench_build/graft-classes) with the Scala compiler in Spark's jars:
  *   java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -d out \
  *     -classpath "<graft-classes>:$SPARK_HOME/jars/*" IngestPlan.scala
  * and run with the JDK 17 --add-opens flags build.sbt lists:
  *   java <add-opens> -cp "out:<graft-classes>:src/main/resources:$SPARK_HOME/jars/*" \
  *     IngestPlan <dir holding documents.parquet> */
object IngestPlan {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(master = "local[4]", appName = "ingest-plan",
      shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val all = spark.read.parquet(args(0) + "/documents.parquet")
      .select("doc_id", "text")
    val idx = "plan_ingest_idx"
    Dedup.writeBandIndex(all.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      idx, k = 8, rows = 2, nBuckets = 32)
    val batch = all.filter(col("doc_id") % 5 === 0).limit(100)
    val b = batch.select(col("doc_id"), col("text")).cache()
    val bands = Dedup.bandTable(b, "doc_id", "text", 8, 2).persist()
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val pairs = Dedup.incrementalPairs(b, idx, corpus.unionByName(b),
      "doc_id", "text", 8, 2, 0.5, reuseBands = Some(bands))
    val admitted = Dedup.admitBatch(b, pairs, "doc_id")
    val qe = admitted.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
