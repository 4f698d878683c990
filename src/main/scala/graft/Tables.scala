package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the API
  * is a plain parquet read so Catalyst column pruning and filter pushdown
  * reach the scan unimpeded.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact tables that drive heavy downstream compute. The driver's test
    * parquet is written as a single row group, so a bare scan yields ONE
    * task no matter how it's split — fan these out to the session's
    * parallelism at the scan edge. This is a local-testdata adaptation:
    * a production 100 TB table arrives as thousands of row groups and
    * needs (and gets) no such repartition, because the check below sees
    * scan partitions >= the target. Dimension tables are left alone so
    * they stay broadcast-cheap.
    */
  private val factTables = Set("lineitem", "orders", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts arrives in whatever parquet shape the generator used:
    //  - TIMESTAMP(NANOS) reads as a raw nanos Long under
    //    spark.sql.legacy.parquet.nanosAsLong (set by GraftSession);
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ,
    //    which watermarks and unix_micros reject.
    // Normalize both to plain TimestampType at the scan edge (session TZ
    // is pinned UTC, so the NTZ wall time and the instant coincide) so
    // every operator downstream sees one timestamp type.
    val df = raw.schema.fields.find(f => f.name == "ts").map(_.dataType) match {
      case Some(LongType) if name == "events" =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))) // integer div: ns are > 2^53, double math would lose µs
      case Some(TimestampNTZType) if name == "events" =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    val target = spark.sessionState.conf.numShufflePartitions
    if (factTables.contains(name) && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}
