package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences, BoundReference, Cast, Expression, Literal, Murmur3Hash, Pmod, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** DSv2 streaming write for graft catalog tables — what makes
  * `df.writeStream.toTable("cat.ns.tbl")` work end to end.
  *
  * Executors write each epoch's rows as parquet files under
  * `<table>/_staging-stream-<queryId>/<epochId>/` through Spark's own
  * parquet `OutputWriter` (same codec, TIMESTAMP_MICROS encoding, and
  * footer statistics as the batch writer), routing rows of a
  * partitioned table into hive-style `col=value/` subdirectories per
  * row with the partition columns projected OUT of the file data —
  * byte-for-byte the batch writer's layout. The driver-side epoch
  * commit promotes ONLY the files named in the tasks' commit messages
  * (a zombie task attempt's orphan file is discarded, not committed)
  * and appends one commit-log entry carrying the query's
  * `graft.txn` marker = epoch id. A replayed epoch finds the marker
  * already at its epoch and discards the staged files instead of
  * double-appending — the one exactly-once marker the foreachBatch
  * sink ([[graft.streaming.Streams.toGraftTable]]) also commits
  * through, on the V2 API. The per-epoch commit protocol lives in
  * [[graft.streaming.StreamingEpochs]]; this file holds only the parts
  * that need sql-private access (ParquetFileFormat.prepareWrite,
  * OutputWriterFactory, SerializableConfiguration).
  *
  * Spark builds this object several times per micro-batch, so it reads
  * nothing from the table: each epoch's writer factory reads the table
  * properties once, for both the physical (column-mapped) schema and
  * the write invariants.
  */
final class GraftStreamingWrite(
    tablePath: String,
    schema: StructType,
    queryId: String,
    partitionCols: Seq[String],
    bucket: Option[(String, Int)] = None) extends StreamingWrite {

  private def stageRoot = s"$tablePath/_staging-stream-$queryId"

  /** Invariant-defining table properties (`graft.io.Invariants`) that
    * the current epoch's writers check, read when Spark builds them.
    */
  @volatile private var checked: Map[String, String] = Map.empty

  private def tableProperties(spark: SparkSession): Map[String, String] =
    new graft.log.CommitLog(
      tablePath, spark.sessionState.newHadoopConf()).tableProperties()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val props = tableProperties(spark)
    checked = graft.io.Invariants.definedBy(props)
    // partition columns live in directory names only, like the batch
    // writer's partitionBy; renamed columns write under their physical
    // names (graft.io.ColumnMapping invariant). Field ORDER matches the
    // logical schema, so the row projection indexes by position
    val dataSchema = graft.io.ColumnMapping.physicalSchema(
      StructType(schema.fields.filterNot(f =>
        partitionCols.exists(_.equalsIgnoreCase(f.name)))),
      graft.io.ColumnMapping.fromProps(props))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // prepareWrite mutates the job conf (write support, schema); the
    // serialized conf must be captured AFTER it
    val factory = new ParquetFileFormat().prepareWrite(
      spark.asInstanceOf[ClassicSession], job,
      Map("compression" -> "zstd"), dataSchema)
    // INT96 (the session default) carries no usable footer statistics;
    // match the batch writer's MICROS override so streamed timestamp
    // columns stay data-skippable
    job.getConfiguration.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // the batch writer's invariant check, resolved against the incoming
    // rows and bound by position (a stream supplies every column)
    val attrs = DataTypeUtils.toAttributes(schema)
    val violation = graft.io.Invariants.violation(checked, schema, None, None).map { v =>
      val analyzed = GraftInternal.dfFromPlan(spark, LocalRelation(attrs))
        .select(v).queryExecution.analyzed
      val Project(Seq(Alias(e, _)), _) = ReplaceExpressions(analyzed): @unchecked
      BindReferences.bindReference(e, AttributeSeq(attrs))
    }
    new GraftStreamWriterFactory(
      stageRoot, schema, dataSchema, partitionCols, bucket,
      spark.sessionState.conf.sessionLocalTimeZone, violation, factory,
      new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.toSeq.flatMap {
      case m: GraftStreamCommitMessage => m.paths
      case _                           => Nil
    }
    val spark = SparkSession.active
    // rows checked against invariants the table no longer has: fail
    // (Spark aborts the epoch); a restarted query checks the new ones
    if (written.nonEmpty &&
        graft.io.Invariants.definedBy(tableProperties(spark)) != checked)
      throw new graft.log.MetadataChangedException(
        s"the write invariants of $tablePath changed while epoch $epochId " +
          "was written; restart the query to check its rows against them")
    graft.streaming.StreamingEpochs.commit(
      spark, tablePath, s"$stageRoot/$epochId", written, queryId, epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    graft.streaming.StreamingEpochs.abort(
      SparkSession.active, s"$stageRoot/$epochId")
}

private final class GraftStreamWriterFactory(
    stageRoot: String,
    schema: StructType,
    dataSchema: StructType,
    partitionCols: Seq[String],
    bucket: Option[(String, Int)],
    timeZone: String,
    violation: Option[Expression],
    owf: OutputWriterFactory,
    serConf: SerializableConfiguration) extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(s"$stageRoot/$epochId", schema, dataSchema,
      partitionCols, bucket, timeZone, violation, owf, serConf, partitionId,
      taskId, epochId)
}

/** Per-task writer: one lazily-opened parquet writer per hive partition
  * fragment seen in this task's rows (an empty partition leaves no file
  * behind), which fails on the first row that breaks an invariant.
  * Partition values render through Spark's cast-to-string + path
  * escaping, and the data file carries only the non-partition columns,
  * so the layout matches the batch writer's bit for bit.
  */
private final class GraftStreamDataWriter(
    dir: String,
    schema: StructType,
    dataSchema: StructType,
    partitionCols: Seq[String],
    bucket: Option[(String, Int)],
    timeZone: String,
    violation: Option[Expression],
    owf: OutputWriterFactory,
    serConf: SerializableConfiguration,
    partitionId: Int,
    taskId: Long,
    epochId: Long) extends DataWriter[InternalRow] {

  private val writers = scala.collection.mutable.HashMap[String, OutputWriter]()
  private val paths = scala.collection.mutable.ArrayBuffer[String]()

  // per-partition-column renderers, in partitionCols (= directory
  // nesting) order. The derived `__bucket` column is recomputed from the
  // bucket key with the SAME expression as the batch side
  // (Bucketing.write's `pmod(hash(key), n)` — Murmur3, seed 42), so
  // streamed rows land in the batch bucket layout bit for bit; everything
  // else renders through Spark's cast-to-string semantics
  // (dates/timestamps/decimals) + hive path escaping.
  private val partRender: Seq[(String, InternalRow => String)] =
    partitionCols.map { c =>
      bucket match {
        case Some((key, n)) if c.equalsIgnoreCase(graft.io.Bucketing.BucketCol) =>
          val i = schema.fieldIndex(key)
          val f = schema(i)
          val e = Pmod(
            Murmur3Hash(Seq(BoundReference(i, f.dataType, f.nullable)), 42),
            Literal(n))
          (c, (row: InternalRow) => e.eval(row).asInstanceOf[Int].toString)
        case _ =>
          val i = schema.fieldIndex(c)
          val f = schema(i)
          val cast =
            Cast(BoundReference(i, f.dataType, f.nullable), StringType, Some(timeZone))
          (c, (row: InternalRow) => {
            val s = cast.eval(row)
            if (s == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(s.toString)
          })
      }
    }

  // project the partition columns out of the written rows. dataSchema
  // may carry PHYSICAL names for renamed columns, so index the incoming
  // (logical-named) rows positionally: dataSchema field i IS the i-th
  // non-partition field of the logical schema (same construction order)
  private val dataProjection: UnsafeProjection = UnsafeProjection.create(
    schema.fields.filterNot(f =>
      partitionCols.exists(_.equalsIgnoreCase(f.name))).map { f =>
      val i = schema.fieldIndex(f.name)
      BoundReference(i, f.dataType, f.nullable)
    }.toSeq)

  private def fragmentOf(row: InternalRow): String =
    partRender.map { case (name, render) => s"$name=${render(row)}" }
      .mkString("/")

  private def taskCtx(): TaskAttemptContextImpl = {
    val conf = new Configuration(serConf.value)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graftstream", (epochId % Int.MaxValue).toInt),
        TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    new TaskAttemptContextImpl(conf, attempt)
  }

  private def writerFor(row: InternalRow): OutputWriter = {
    val frag = fragmentOf(row)
    writers.getOrElseUpdate(frag, {
      val ctx = taskCtx()
      val sub = if (frag.isEmpty) dir else s"$dir/$frag"
      val fp = f"$sub/part-$partitionId%05d-$taskId${owf.getFileExtension(ctx)}"
      paths += fp
      owf.newInstance(fp, dataSchema, ctx)
    })
  }

  // a violating row fails the task before it is written; the epoch
  // aborts and its staged files are deleted
  override def write(row: InternalRow): Unit = {
    violation.map(_.eval(row)).filter(_ != null)
      .foreach(msg => throw new IllegalArgumentException(msg.toString))
    writerFor(row).write(dataProjection(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    writers.clear()
    GraftStreamCommitMessage(paths.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach(_.close())
    writers.clear()
    paths.foreach { fp =>
      val p = new Path(fp)
      p.getFileSystem(serConf.value).delete(p, false)
    }
  }

  override def close(): Unit = ()
}

final case class GraftStreamCommitMessage(paths: Seq[String])
  extends WriterCommitMessage
