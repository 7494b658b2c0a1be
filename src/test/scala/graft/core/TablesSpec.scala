package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** One-place fixture-schema contract.
  *
  * The driver regenerates /root/testdata occasionally (round 8 lost 12 oracle
  * queries to a silent TIMESTAMP(NANOS)→TIMESTAMP(MICROS) change in
  * events.parquet). This spec pins the engine-side canonical schema of every
  * `Tables.*` loader so the next regeneration fails as ONE named assertion
  * here instead of scattered DATATYPE_MISMATCH analysis errors deep in
  * queries. Mirrors the reference's column-order registry
  * (dags/utils/table_columns.py:1-64).
  *
  * The contract is on the POST-LOAD schema: loaders are allowed to normalize
  * vintage differences (events.ts nanos-Long vs native micros both surface as
  * session-tz TimestampType), but the surface downstream code sees must stay
  * exactly this.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def expect(df: DataFrame, cols: (String, DataType)*): Unit = {
    val actual = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(actual == cols.toSeq,
      s"fixture schema drift:\n  expected ${cols.toSeq}\n  actual   $actual")
  }

  test("region schema") {
    expect(Tables.region(spark, sf),
      "r_regionkey" -> IntegerType, "r_name" -> StringType)
  }

  test("nation schema") {
    expect(Tables.nation(spark, sf),
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType)
  }

  test("customer schema") {
    expect(Tables.customer(spark, sf),
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType)
  }

  test("supplier schema") {
    expect(Tables.supplier(spark, sf),
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  }

  test("part schema") {
    expect(Tables.part(spark, sf),
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
  }

  test("orders schema") {
    expect(Tables.orders(spark, sf),
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)
  }

  test("lineitem schema") {
    expect(Tables.lineitem(spark, sf),
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType)
  }

  test("events schema — ts normalized to session-tz timestamp in either fixture vintage") {
    expect(Tables.events(spark, sf),
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType)
  }

  test("documents schema") {
    expect(Tables.documents(spark, sf),
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
  }

  test("embeddings schema") {
    expect(Tables.embeddings(spark, sf),
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  }

  test("preflight passes on the driver fixtures and reports EVERY drift " +
      "in one message") {
    import org.apache.spark.sql.functions._
    Tables.preflight(spark, sf) // current fixtures: clean
    // synthetic drifted dir: events retyped AND part missing a column;
    // remaining tables absent entirely — all reported together
    val dir = SparkSpec.tempDir("graft-drift").toString
    Tables.events(spark, sf).withColumn("value", col("value").cast("float"))
      .write.parquet(s"$dir/events.parquet")
    Tables.part(spark, sf).drop("p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    val e = intercept[IllegalStateException] {
      Tables.preflight(spark, dir)
    }
    assert(e.getMessage.contains("events:") && e.getMessage.contains("part:"))
    assert(e.getMessage.contains("lineitem: unreadable"))
  }

  test("events loader nanos-Long vintage still normalizes (synthetic old fixture)") {
    // Rebuild the pre-2026-08-13 fixture shape: ts as a nanos Long column.
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft-nanos-vintage").toString
    Tables.events(spark, sf)
      .withColumn("ts", (unix_micros(col("ts")) * 1000L))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val reloaded = Tables.events(spark, dir)
    assert(reloaded.schema("ts").dataType == TimestampType)
    // Values must round-trip exactly (second-resolution fixture data).
    val orig = Tables.events(spark, sf).select("event_id", "ts")
    assert(reloaded.select("event_id", "ts").exceptAll(orig).isEmpty)
  }
}
