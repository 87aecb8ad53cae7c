package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Fixed, declared schemas for the driver testdata tables
  * (`/root/repo/FIXTURES.md`) — never `inferSchema` (SURVEY.md §1.3), so the
  * t2 oracle comparison is type-stable. Mirrors the reference's fixed ORM
  * schema stance (`/root/reference/README.md:20-23`: declared `data_models`
  * classes), re-expressed as Spark `StructType`s over columnar Parquet.
  *
  * Scale note: at 100 TB these reads become partitioned-directory scans; the
  * loaders keep all filtering/projection OUT of this layer so Catalyst can
  * push predicates and prune columns into the Parquet scan
  * (`PushedFilters` / `ReadSchema`).
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `events.ts` is parquet timestamp[us] (isAdjustedToUTC=false); the
    * session pins `spark.sql.session.timeZone=UTC` so the naive micros are
    * read as the same instants DuckDB sees, keeping the t2 oracle aligned. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  /** Columnar scan with a declared schema (SURVEY.md §2.1 S1). All tables
    * (including `events`) are plain declared-schema parquet scans — no
    * loader-side transforms, so a table copy written from this output is
    * loader-compatible (ScaleProbe k-replication relies on that). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized table row count — the size probe behind cost-routed hub
    * materialization ([[graft.Exec.sizedHub]]). A parquet count is
    * footer-cheap but still a job; memoizing per (dir, table) means a
    * Bench/Verify run pays it once per table, not once per probing
    * query. Driver-lifetime cache: testdata dirs are immutable per run
    * (the driver regenerates into fresh paths). */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$dir/$name",
      _ => java.lang.Long.valueOf(load(spark, dir, name).count())).longValue()

  /** Catalog surface (SURVEY.md §2.1 S2, mirrors
    * `/root/reference/probe.py:6-7` `inspector.get_table_names()`):
    * register every testdata table as a temp view and list them. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] = {
    schemas.keys.toSeq.sorted.map { name =>
      load(spark, dir, name).createOrReplaceTempView(name)
      name
    }
  }

  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  /** Faithful-source variant (SURVEY.md §2.1 S1): the reference reads the
    * same relations over a SQLAlchemy→PostgreSQL connection
    * (`/root/reference/probe.py:4`, psycopg2). Partitioned JDBC scan:
    * `numPartitions` concurrent readers split on `partitionColumn` ranges
    * so a large table never funnels through one connection. Not exercised
    * by tests (no database in this environment); the Parquet loader above
    * is the tested path. */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: String, lowerBound: Long, upperBound: Long,
           numPartitions: Int = 8,
           props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props)
}
