package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Distributed replacement for the `memory` sink on the streaming
  * gates (round 18).
  *
  * The memory sink collects every micro-batch's output rows TO THE
  * DRIVER (one LocalTableScan copy that lives for the session), so a
  * gate emitting ~150k annotated rows paid a driver-side round trip
  * inside `addBatch` and re-served the result from a single-threaded
  * local scan (stream probe, s8 shape warm: addBatch 0.92 s / read
  * 0.26 s with the memory sink vs 0.59 / 0.11 through foreachBatch).
  * A foreachBatch sink is exactly as real a streaming sink — the
  * micro-batch engine, offset/commit logs, watermarks and state
  * stores drive it identically — but each batch's output stays
  * distributed: [[graft.core.Materialize]] pins it as GC-released
  * cached blocks, and the gate's result is the union of the batch
  * frames (append mode) or the last batch (complete mode re-emits the
  * full result per batch).
  */
object StreamSink {

  /** Accumulates materialized micro-batch outputs. */
  final class Frames(schema: StructType, spark: SparkSession, complete: Boolean) {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private[StreamSink] def add(df: DataFrame): Unit = {
      val m = graft.core.Materialize(df)
      synchronized { if (complete) frames.clear(); frames += m }
    }
    /** Union of the accumulated batches (append) / the last batch
      * (complete); an empty stream yields an empty frame of the
      * stream's schema. */
    def result: DataFrame = synchronized {
      frames.reduceOption(_ unionByName _).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    }
  }

  /** A writer wired to a batch accumulator, for gates that drive the
    * stream themselves (e.g. MemoryStream + processAllAvailable). */
  def writer(out: DataFrame, outputMode: String = "append")
      : (DataStreamWriter[Row], Frames) = {
    val f = new Frames(out.schema, out.sparkSession, outputMode == "complete")
    val w = out.writeStream
      .foreachBatch { (df: DataFrame, _: Long) => f.add(df); () }
      .outputMode(outputMode)
    (w, f)
  }

  /** Run the stream to termination under Trigger.AvailableNow and
    * return its full output as one distributed frame. */
  def runAvailableNow(out: DataFrame, outputMode: String = "append"): DataFrame = {
    val (w, f) = writer(out, outputMode)
    w.trigger(Trigger.AvailableNow()).start().awaitTermination()
    f.result
  }
}
