package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Turns the generator's raw files into the tables the program reads
  * (`documents.parquet`, `events.parquet`, embedding frames). */
object Inputs {

  val EventSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  val DocSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)

  /** Converts each directory's `events.jsonl` into its `events.parquet`,
    * all in one Spark write (partitioned by directory, then moved into
    * place). */
  def events(spark: SparkSession, dirs: Seq[Path], staging: Path): Unit = {
    import org.apache.spark.sql.functions._
    val all = dirs.zipWithIndex.map { case (d, i) =>
      spark.read.schema(EventSchema).json(d.resolve("events.jsonl").toString)
        .withColumn("part", lit(i))
    }.reduce(_ unionByName _)
    all.write.mode("overwrite").partitionBy("part").parquet(staging.toString)
    dirs.zipWithIndex.foreach { case (d, i) =>
      java.nio.file.Files.move(staging.resolve(s"part=$i"), d.resolve("events.parquet"))
    }
  }

  def documents(spark: SparkSession, jsonl: Path, tableDir: Path): Unit =
    spark.read.schema(DocSchema).json(jsonl.toString)
      .write.mode("overwrite").parquet(tableDir.resolve("documents.parquet").toString)

  /** `(vec_id, embedding ARRAY<FLOAT>)` rows for vectors `firstId...`. */
  def embeddings(spark: SparkSession, f32: Path, firstId: Long): DataFrame = {
    import spark.implicits._
    Gen.readF32(f32).toSeq.zipWithIndex
      .map { case (v, i) => (firstId + i, v.toSeq) }
      .toDF("vec_id", "embedding")
  }
}
