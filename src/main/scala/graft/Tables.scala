package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata star schema
  * (see /root/repo/TESTDATA.md). One parquet file per table under the
  * per-scale-factor directory passed to every query.
  *
  * All reads go through [[Tables.load]] so Catalyst sees a plain parquet
  * relation: filters/projections in downstream operators are pushed into
  * the scan (PushedFilters / ReadSchema), which is the scale path — at
  * 100 TB these would be partitioned/bucketed parquet datasets and the
  * same plans prune partitions for free.
  */
object Tables {
  /** A table's schema is inferred once per session: inference reads a
    * footer in a Spark job outside any SQL execution, and every later
    * read passes the schema it found, so it starts no job. The schema
    * is held in the session's [[StoreBuilds]] map, out of the ledger,
    * keyed by the path and its file status (modification time and
    * length), so a table rewritten in place is inferred again. It is
    * whatever the footer says: `events.ts` has shipped as two physical
    * types (see [[events]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = StoreBuilds.unledgered(spark, path,
      s"schema@${st.getModificationTime}/${st.getLen}")(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The `ts` contract every downstream operator (and every DuckDB
    * oracle) is written against is a NANOSECOND epoch long on the µs
    * grid (`ts div 1000` = epoch_us). The generator has shipped the
    * column both ways — INT64 TIMESTAMP(NANOS) (read as long under
    * `nanosAsLong`) and timestamp[us] — so normalize here: a
    * timestamp-typed column becomes `unix_micros(ts) * 1000`, which is
    * exactly the value the ns files carried (the data never had sub-µs
    * precision). Sessions run with UTC session time, so the NTZ cast is
    * the identity mapping DuckDB's `epoch_us` applies. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampType | TimestampNTZType => raw.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts as timestamp)) * 1000"))
      // loud, not silent: coercing an unexpected physical type (string,
      // int32, …) would break the ns contract downstream with no trace
      case other => throw new IllegalStateException(
        s"events.ts: expected INT64 (ns) or timestamp, got $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
