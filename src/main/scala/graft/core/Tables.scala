package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver fixtures under /root/testdata (see TESTDATA.md).
  *
  * Every table is a single parquet file; Catalyst handles column pruning and
  * predicate pushdown, so callers should `.select`/`.filter` as early as
  * possible and let the scan do the work. At 100 TB these would be
  * partitioned parquet/Delta directories — nothing in the call-sites assumes
  * single-file layout.
  *
  * Schemas come from [[Parquet.read]]: the driver reads the table's
  * footer and hands its schema to the reader, so loading a table (and
  * [[preflight]], which loads all of them) submits no Spark job. The
  * schema is the one `spark.read.parquet` would infer, session conf
  * included (the `events` loader's `nanosAsLong` applies).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` has shipped in two vintages: TIMESTAMP(NANOS),
    * which Spark's parquet reader only surfaces as a nanos Long (legacy
    * conf), and native TIMESTAMP(MICROS), which surfaces as TIMESTAMP_NTZ.
    * Sniff the loaded type and normalize both to a session-tz
    * TimestampType (session tz is pinned to UTC by every entrypoint, so
    * the NTZ cast preserves wall-clock values). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      // `div` is exact integral division; `/` would go through double and
      // lose micros for epoch-nanos values beyond 2^53.
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private def loader(name: String): (SparkSession, String) => DataFrame =
    name match {
      case "events" => events
      case n => (s, d) => load(s, d, n)
    }

  /** Canonical POST-LOAD schema of every fixture, as (column ->
    * simpleString type) in order — the one-place contract TablesSpec
    * pins and [[preflight]] enforces at runtime. Loaders may normalize
    * vintage differences (events.ts nanos-Long vs native micros both
    * surface as session-tz timestamp); what downstream code sees must
    * stay exactly this. */
  val contract: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int"))

  /** Fixture-vintage pre-flight (VERDICT r9 #8): load every table of
    * `dir` and diff its post-load schema against [[contract]]. ANY
    * driver fixture regeneration that the loaders cannot normalize
    * fails HERE, loudly, with every per-table difference in one
    * message — instead of as scattered DATATYPE_MISMATCH analysis
    * errors deep inside whichever queries touch the drifted columns
    * (the round-8 failure mode: 12 oracle rows lost to one silent
    * events.ts vintage change). Tables absent from `dir` are reported
    * too — a partial fixture dir is itself a drift. */
  def preflight(spark: SparkSession, dir: String): Unit = {
    val problems = all.flatMap { name =>
      try {
        val actual = loader(name)(spark, dir).schema.fields
          .map(f => f.name -> f.dataType.simpleString).toSeq
        val expected = contract(name)
        if (actual == expected) None
        else Some(s"$name: expected $expected, got $actual")
      } catch {
        case e: Exception =>
          Some(s"$name: unreadable (${e.getMessage.linesIterator.next()})")
      }
    }
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"fixture schema pre-flight failed for $dir — the driver " +
          "fixtures have drifted from Tables.contract; fix the loader " +
          "normalization or update the contract:\n  " +
          problems.mkString("\n  "))
  }
}
