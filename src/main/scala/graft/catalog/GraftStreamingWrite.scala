package graft.catalog

import graft.sinks.{TableLog, WriteStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{
  DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.{ParquetWrite, ParquetWriteFactory}
import org.apache.spark.sql.types.StructType

/** The NATIVE streaming sink: `df.writeStream.toTable("graft.ns.t")`.
  *
  * Each executor-side [[DataWriter]] writes ONE parquet file directly
  * (Spark's own writer stack via the bridge), opened LAZILY on the
  * first row so empty tasks leave no file, and measures the stats of
  * the table's write spec and its CHECK constraints (both as of the
  * epoch's start) while writing ([[WriteStats]]); the epoch commit
  * ([[TableLog.commitStreamEpoch]]) manifests ONLY message-listed
  * files — a zombie or retried task's orphan can never land — and
  * commits ONE append stamped `<queryId>#<epochId>`. Micro-batch
  * replays after a
  * crash-restart find their txn in the manifest chain, delete their
  * duplicate files, and return the committed version: the same
  * exactly-once contract as `appendStream`, now through Spark's native
  * streaming write path instead of foreachBatch.
  *
  * Append output mode only — Complete would need per-epoch truncation
  * semantics this sink deliberately refuses (a streaming whole-table
  * replace per trigger is a history-churn anti-pattern on a commit-log
  * table; aggregate into a batch face instead). */
final class GraftStreamingWrite(path: String, schema: StructType,
    queryId: String) extends StreamingWrite {

  /** One fresh id per StreamingWrite instance (= per query RUN): a
    * crash-restart replaying an already-committed epoch gets a new
    * run id, so its task files can NEVER collide with the names the
    * first run manifested — task-attempt ids alone don't guarantee
    * that across application restarts. Mirrors batch writes'
    * `data/<uuid>` set id. */
  private val runId = java.util.UUID.randomUUID().toString.take(8)

  /** The epoch's stats spec, set when Spark asks for its writer
    * factory (once per micro-batch, on the driver) and read back by
    * that epoch's commit. */
  @volatile private var stats: WriteStats.Spec = WriteStats.Spec()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val snap = TableLog.snapshotOrFail(path)
    stats = snap.spec.writeStats(schema, audits = TableLog.checkAudits(path,
      snap.checks, "streaming append"))
    new GraftStreamWriterFactory(path, queryId, runId,
      ParquetWrite.factory(spark, schema), stats.bind(spark, schema))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    TableLog.commitStreamEpoch(SparkSession.active, path,
      GraftFileMessage.files(messages), txnId = s"$queryId#$epochId",
      stats, schema)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftFileMessage.files(messages).foreach(f =>
      WriteStats.deleteStaged(s"$path/${f.name}"))
}

/** One writer task's staged file (`file.name` is table-relative), or
  * null when the task wrote no row. */
final case class GraftFileMessage(file: WriteStats.FileSummary)
    extends WriterCommitMessage

object GraftFileMessage {
  def files(messages: Array[WriterCommitMessage])
      : Seq[WriteStats.FileSummary] =
    messages.toSeq.collect {
      case GraftFileMessage(f) if f != null => f }
}

/** Serializable; ships the driver-captured parquet conf to executors.
  * File names carry (run, epoch, partition, task-attempt): two
  * attempts of one partition never collide within a run, and the
  * per-run id keeps a restart's replay of an already-manifested epoch
  * from colliding with the first run's files. Losers stay
  * unmanifested. */
final class GraftStreamWriterFactory(tablePath: String, queryId: String,
    runId: String, pw: ParquetWriteFactory, stats: WriteStats.Bound)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val rel =
      f"data/stream-$queryId-e$epochId%06d/p$partitionId%05d-t$taskId-$runId.parquet"
    new GraftFileWriter(new WriteStats.StagedFile(pw, stats,
      s"$tablePath/$rel", rel, partitionId, (taskId & 0x7fffffffL).toInt))
  }
}

/** The DataWriter face of one task's [[WriteStats.StagedFile]], shared
  * by the streaming sink and the row-level ReplaceData write. */
final class GraftFileWriter(f: WriteStats.StagedFile)
    extends DataWriter[InternalRow] {
  override def write(r: InternalRow): Unit = f.write(r)
  override def commit(): WriterCommitMessage = GraftFileMessage(f.commit())
  override def abort(): Unit = f.abort()
  override def close(): Unit = ()
}
