package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The one streaming-drain lifecycle. Every drain in graft replays a
  * staged landing to its end and stops; the index drains additionally
  * run the FOLD LOOP, which owns, per micro-batch and in this order:
  *
  *  1. compaction of every fold tree
  *     ([[EventStreams.maybeCompactFolds]]), sparing the dirs a
  *     retained snapshot manifest still references
  *     ([[SnapshotFolds.retainedRefs]]);
  *  2. the batch's fold — the caller's function, which writes its
  *     `batch=<id>` dirs with overwrite semantics;
  *  3. one manifest per tree ([[SnapshotFolds.writeManifest]]), written
  *     only after the fold landed, so a manifest names durable dirs.
  *
  * Around the batches it owns the drain width
  * ([[StreamTune.withDrainWidthFrom]]), the checkpoint under
  * `work/ckpt`, draining everything available, the busy-time record
  * ([[StreamBusy]]) and the stop.
  */
object FoldDrain {

  /** A file stream over a staged landing, one file per trigger. */
  private[graft] def replay(s: SparkSession, landing: Path,
      schema: StructType): DataFrame =
    s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)

  /** Start `writer` checkpointed at `ckpt`, drain everything available,
    * record its busy time, stop — the part every drain shares. */
  private[graft] def runToEnd(writer: DataStreamWriter[Row], ckpt: Path): Unit = {
    val q = writer.option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      StreamBusy.addQuery(q) // busy-vs-wall split for the bench
    } finally q.stop()
  }

  /** The fold loop over the `trees` under `work`, sized from the
    * source files `widthFrom`. `open` runs inside the width scope: it
    * stages the landing and yields the stream plus the state the fold
    * needs (centroids, the bounded-batch guard, ...), which `fold`
    * turns into the per-batch function. Compaction re-merges with
    * `merge` — concatenation for keyed-set trees. Returns the state. */
  private[graft] def foldAll[A](s: SparkSession, widthFrom: Path, work: Path,
      trees: Seq[String], merge: DataFrame => DataFrame = identity)(
      open: => (DataFrame, A))(fold: A => (DataFrame, Long) => Unit): A =
    StreamTune.withDrainWidthFrom(s, widthFrom) {
      val roots = trees.map(work.resolve)
      roots.foreach(Files.createDirectories(_))
      val (stream, state) = open
      val batch = fold(state)
      runToEnd(stream.writeStream.foreachBatch { (df: DataFrame, id: Long) =>
        roots.foreach { t =>
          EventStreams.maybeCompactFolds(s, t, id, merge,
            spare = SnapshotFolds.retainedRefs(t))
        }
        batch(df, id)
        roots.foreach(SnapshotFolds.writeManifest(_, id))
      }, work.resolve("ckpt"))
      state
    }
}
