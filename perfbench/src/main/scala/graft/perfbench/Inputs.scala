package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Transcripts

/** Turn-level inputs, materialized once per (seed tables, seed, composition)
  * as parquet under the work directory, outside every timed window.
  *
  *  - head: `Transcripts.input` (the six-technology table with the
  *    `conv_hot` skew, azure records[] splits and vpcflow drops), replicated
  *    with seed-salted conv_ids so each replica is its own conversation;
  *  - tail: every per-technology `Transcripts.*Input` generator, unioned.
  *
  * Rows are spread over files in a seed-dependent order. */
object Inputs {
  val Cols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Generators read the `events` view; point it at this run's seed table
    * before each call rather than relying on a memoized earlier call. */
  def registerEvents(spark: SparkSession, dataDir: String): Unit =
    spark.read.parquet(s"$dataDir/events.parquet").createOrReplaceTempView("events")

  /** Every per-technology generator `Transcripts.<x>Input`, by name. */
  lazy val generators: Seq[(String, (SparkSession, String) => DataFrame)] =
    Transcripts.getClass.getMethods.toSeq
      .filter(m => m.getName.endsWith("Input") && m.getParameterCount == 2 &&
        m.getReturnType == classOf[DataFrame])
      .sortBy(_.getName)
      .map(m => m.getName -> ((s: SparkSession, d: String) =>
        m.invoke(Transcripts, s, d).asInstanceOf[DataFrame]))

  def head(spark: SparkSession, dataDir: String, seed: Long, replicas: Int): DataFrame = {
    registerEvents(spark, dataDir)
    Transcripts.input(spark, dataDir)
      .withColumn("r", explode(sequence(lit(1), lit(replicas))))
      .withColumn("conv_id", concat(col("conv_id"), lit(f"#$seed%x."), col("r")))
      .select(Cols.map(col): _*)
  }

  def tail(spark: SparkSession, dataDir: String): DataFrame =
    generators.map { case (_, g) =>
      registerEvents(spark, dataDir)
      g(spark, dataDir).select(Cols.map(col): _*)
    }.reduce(_ unionByName _)

  /** Writes `df` to `path` in `files` files, rows ordered by a seeded hash,
    * unless a complete copy is already there. */
  def materialize(path: String, df: => DataFrame, seed: Long, files: Int): String = {
    if (!new File(path, "_SUCCESS").exists()) {
      val h = xxhash64(lit(seed), col("conv_id"), col("turn_idx"), col("tool"), col("text"))
      df.withColumn("h", h).repartition(files, col("h")).sortWithinPartitions("h").drop("h")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** A seeded 1/`every` row sample of `df`. */
  def slice(df: DataFrame, seed: Long, every: Int): DataFrame =
    df.filter(pmod(xxhash64(lit(seed + 1), col("conv_id"), col("turn_idx"), col("tool"), col("text")),
      lit(every.toLong)) === 0)
}
