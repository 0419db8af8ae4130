package graft

import org.apache.spark.sql.functions._

/** The driver's t1 smoke: flagship hybrid query on sf0.001 returns rows
  * with valid, descending, correctly-blended scores. */
class EntrySmokeSpec extends SparkTestBase {

  test("entry returns >0 rows with scores in [0,1], rnk 1..10 per query") {
    val out = SparkEntry.entry(spark).cache()
    val n = out.count()
    assert(n > 0)
    val bad = out.where(
      col("final") < 0 || col("final") > 1 ||
        col("cs") < 0 || col("cs") > 1 || col("fs") < 0 || col("fs") > 1 ||
        col("rnk") < 1 || col("rnk") > 10)
    assert(bad.count() == 0)
    // rnk order must agree with score order within each query
    val inv = out.as("a").join(out.as("b"),
      col("a.query_id") === col("b.query_id") &&
        col("a.rnk") < col("b.rnk") && col("a.final") < col("b.final"))
    assert(inv.count() == 0)
  }

  test("registry: names and qNN keys unique; every plan analyzes") {
    // every QuerySpec carries its oracle, so the 1:1 query/oracle
    // correspondence is the type's; what is left to check is the keys
    val specs = SparkEntry.specs
    val names = specs.map(_.name)
    assert(names.distinct.size == names.size,
      s"declared twice: ${names.diff(names.distinct)}")
    val malformed = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"malformed names: $malformed")
    // Bench's stdout line keys each row by qNN alone
    val keys = specs.map(_.shortKey)
    assert(keys.distinct.size == keys.size, s"qNN shared: ${keys.diff(keys.distinct)}")
    assert(specs.forall(_.oracle.trim.nonEmpty))
    assert(SparkEntry.byName.keySet == names.toSet)
    specs.foreach(_.run(spark, sf()).schema) // analyzes the plan
  }

  test("no declared query surfaces a DECIMAL output column") {
    // Round-6 q124/q152/q157 class: DuckDB's pandas bridge returns
    // DECIMAL(38,0) as float64, so any value beyond 2⁵³ hash-mismatches
    // at the driver while float-tolerant local compares collapse both
    // sides to the same lossy double and pass. Decimals are fine as
    // internal accumulators; the SURFACED column must be BIGINT (fold
    // digests mod 2⁶²) or DOUBLE (snap first).
    val offenders = SparkEntry.specs.flatMap { q =>
      q.run(spark, sf()).schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
          s"${q.name}.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"DECIMAL in output: ${offenders.mkString(", ")}")
  }
}
