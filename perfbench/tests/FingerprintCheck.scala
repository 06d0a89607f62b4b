import org.apache.spark.sql.functions._

/** Checks `graftbench.Fingerprint`: order and partitioning do not change
  * it, the observed and the aggregated forms agree, a last-bit change in
  * a double does not change it and a changed value does. Prints `OK` on
  * success; exits non-zero on the first failure. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(master = "local[2]", appName = "fingerprint-check")
    import graftbench.Fingerprint
    val df = spark.range(0, 5000, 1, 3).select(col("id"),
      (col("id") % 7).cast("string").as("s"),
      (col("id") / 3.0).as("d"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 2).as("n"))
    val base = Fingerprint.of(df)
    def expect(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }
    expect(Fingerprint.of(df.orderBy(rand(7))) == base, "row order changes the fingerprint")
    expect(Fingerprint.of(df.repartition(7)) == base, "partitioning changes the fingerprint")
    val (observed, print) = Fingerprint.observe(df.repartition(5))
    observed.write.format("noop").mode("overwrite").save()
    expect(print() == base, "observed fingerprint differs from the aggregate")
    val ulp = df.withColumn("d", col("d") + col("d") * lit(Math.ulp(1.0)))
    expect(Fingerprint.of(ulp) == base, "a last-bit double change changes it")
    val changed = df.withColumn("n", when(col("id") === 4321, lit(-1L)).otherwise(col("n")))
    expect(Fingerprint.of(changed) != base, "a changed value keeps the fingerprint")
    expect(Fingerprint.of(df.limit(4999)) != base, "a dropped row keeps the fingerprint")
    spark.stop()
    println("OK")
  }
}
