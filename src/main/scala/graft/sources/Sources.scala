package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.1 R2/R17): every ingest and emit
  * shape the reconstructed reference uses, mapped Spark-first.
  *
  * | Flink                        | Here                                   |
  * |------------------------------|----------------------------------------|
  * | env.fromElements/Collection  | inMemory (Seq → DataFrame)             |
  * | file source (text/csv)       | csv / json / parquet readers           |
  * | socketTextStream             | rateStream (container has no network;  |
  * |                              |   the rate source is the standard      |
  * |                              |   self-contained unbounded source)     |
  * | print() sink                 | consoleSink                            |
  * | StreamingFileSink            | fileSink (parquet/csv/json writers)    |
  *
  * All readers take explicit schemas — at 100 TB, schema inference means
  * an extra full pass over the data; never rely on it.
  */
object Sources {

  /** fromElements analog: an inline bounded collection. */
  def inMemory(spark: SparkSession, rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "value")
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Bounded writers (StreamingFileSink analog in batch form). Partitioned
    * output is the 100 TB layout: partition columns become directory
    * pruning at read time. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Unbounded source: the rate source (socketTextStream stand-in),
    * shaped to the events schema so every demo in graft.streaming can run
    * against it. */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 100).as("user_id"),
        element_at(
          array(lit("click"), lit("purchase"), lit("error"), lit("signup"), lit("view")),
          (col("value") % 5 + 1).cast("int")
        ).as("event_type"),
        (col("value") % 200).cast("double").as("value"),
        lit("""{"k": 1}""").as("props")
      )

  /** print() analog. */
  def consoleSink(df: DataFrame): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("console").outputMode("append")

  /** Streaming file sink with checkpointing (exactly-once file output). */
  def fileSink(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    graft.streaming.StreamStart(df)(_
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"))
}
