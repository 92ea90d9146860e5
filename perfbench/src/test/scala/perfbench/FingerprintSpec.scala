package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

class FingerprintSpec extends SparkSuite {

  test("row order and partitioning do not change the fingerprint") {
    val df = spark.range(0, 5000).select(col("id"), (col("id") % 7).cast("string").as("k"))
    val a = Fingerprint.of(df)
    val b = Fingerprint.of(df.orderBy(col("id").desc).repartition(7))
    assert(a == b)
    assert(a._1 == 5000L)
  }

  test("a changed value or a lost row changes the fingerprint") {
    val df = spark.range(0, 1000).select(col("id"))
    val base = Fingerprint.of(df)
    assert(Fingerprint.of(df.withColumn("id", when(col("id") === 5, 6L).otherwise(col("id")))) != base)
    assert(Fingerprint.of(df.filter(col("id") =!= 5)) != base)
  }

  test("floating-point columns are left out") {
    val df = spark.range(0, 100).select(col("id"),
      (col("id") / 3.0).as("d"), array(col("id").cast("float")).as("fs"))
    assert(Fingerprint.covered(df.schema).map(_.name) == Seq("id"))
    assert(Fingerprint.of(df) == Fingerprint.of(df.select(col("id"))))
  }

  test("map columns are covered whatever their entry order") {
    val a = spark.range(0, 10).select(map(lit("a"), col("id"), lit("b"), lit(1L)).as("m"))
    val b = spark.range(0, 10).select(map(lit("b"), lit(1L), lit("a"), col("id")).as("m"))
    assert(Fingerprint.of(a) == Fingerprint.of(b))
  }

  test("the observed fingerprint equals the aggregated one") {
    val df = spark.range(0, 300).select(col("id"), (col("id") % 5).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
    val obs = new Observation()
    Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save()
    assert(Fingerprint.read(obs) == Fingerprint.of(df))
  }
}
