package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExecutionRecorder
import org.apache.spark.sql.streaming.Trigger

import graft.io.{Generated, GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.merge.{Dml, MergeConfig, MergeExecutor, MergeType}

/** Write invariants ([[graft.io.Invariants]]) are checked inside the
  * write: they cost no execution of their own, and a refused write
  * leaves the table root exactly as it was.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  /** Every file and directory under `root`, relative to it. */
  private def listing(root: String): Set[String] = {
    val base = new java.io.File(root).toPath
    val walk = java.nio.file.Files.walk(base)
    try walk.toArray.map(p => base.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
      .toSet
    finally walk.close()
  }

  test("an append to a table with a CHECK constraint and a generated column runs one execution") {
    val p = tmpDir("inv_pin") + "/t"
    GraftWriter.write(spark, Seq((1L, 2L, 100L)).toDF("id", "qty", "price_cents"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(s"${Generated.Prefix}total_cents" -> "qty * price_cents")))
    GraftWriter.addCheckConstraint(spark, p, "qty_positive", "qty > 0")
    val (_, runs) = ExecutionRecorder.record(spark) {
      GraftWriter.write(spark,
        Seq((2L, 3L, 10L, 30L)).toDF("id", "qty", "price_cents", "total_cents"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    assert(runs.size == 1, runs.map(_.logical.nodeName).mkString(", "))
    assert(GraftTable(spark, p).toDf().count() == 2)
  }

  test("an evolving append that omits a constrained column passes: the column reads as NULL") {
    val p = tmpDir("inv_omitted") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.addCheckConstraint(spark, p, "v_positive", "v > 0")
    GraftWriter.write(spark, Seq((2L, "x")).toDF("k", "w"), p,
      WriteOptions(mode = WriteMode.Append, schemaMode = Some(graft.io.SchemaMode.Merge)))
    val got = GraftTable(spark, p).toDf().select("k", "v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got == Set((1L, Some(10L)), (2L, None)))
  }

  test("a refused append, replaceWhere overwrite, merge or update leaves the table root as it was") {
    // a change-data-feed table writes change files too: a refused
    // merge or update must leave no `_cdc/` directory behind
    for (cdf <- Seq(false, true)) {
      val p = tmpDir(s"inv_refused_cdf_$cdf") + "/t"
      GraftWriter.write(spark, Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p"), p,
        WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p"),
          metadata = if (cdf) Map(graft.io.Cdc.PropKey -> "true") else Map.empty))
      GraftWriter.addCheckConstraint(spark, p, "v_positive", "v > 0")
      val before = listing(p)
      val v0 = GraftTable(spark, p).version()
      def refused(what0: String, needle: String)(f: => Unit): Unit = {
        val what = s"$what0 (cdf=$cdf)"
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains(needle), s"$what: ${e.getMessage}")
        val after = listing(p)
        assert(after == before, s"$what: ${after -- before} ${before -- after}")
        assert(!after.exists(_.contains("_staging-")), what)
        assert(GraftTable(spark, p).version() == v0, what)
      }
      refused("append", "v_positive") {
        GraftWriter.write(spark, Seq((3L, -3L, "a")).toDF("k", "v", "p"), p,
          WriteOptions(mode = WriteMode.Append))
      }
      refused("replaceWhere overwrite", "rows violate replaceWhere predicate") {
        GraftWriter.write(spark, Seq((3L, 30L, "a"), (4L, 40L, "b")).toDF("k", "v", "p"), p,
          WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p") === "a")))
      }
      refused("merge", "v_positive") {
        MergeExecutor.merge(spark, Seq((1L, -1L, "a")).toDF("k", "v", "p"), p,
          MergeConfig(MergeType.Upsert, "s.k = t.k"))
      }
      refused("update", "v_positive") {
        Dml.update(spark, p, col("k") === 2L, Map("v" -> lit(-2L)))
      }
      assert(GraftTable(spark, p).toDf().as[(Long, Long, String)].collect().toSet ==
        Set((1L, 10L, "a"), (2L, 20L, "b")))
    }
  }

  test("a streaming append of a row violating a CHECK constraint fails and commits nothing") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("inv_stream_root")
    spark.conf.set("spark.sql.catalog.invcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.invcat.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val p = s"$root/ns/sink"
    GraftWriter.write(spark, Seq((1L, 10L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.addCheckConstraint(spark, p, "v_positive", "v > 0")
    val v0 = GraftTable(spark, p).version()
    def dataFiles: Set[String] = listing(p).filter(_.endsWith(".parquet"))
    val files0 = dataFiles
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    mem.addData((2L, 20L), (3L, -3L))
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("inv_stream_ckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable("invcat.ns.sink")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("v_positive"))),
      causes.map(_.getMessage).mkString("\n"))
    assert(GraftTable(spark, p).version() == v0)
    assert(dataFiles == files0)
    assert(GraftTable(spark, p).toDf().count() == 1)
  }

  test("a running stream checks each epoch against the table's invariants as of that epoch") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("inv_live_root")
    spark.conf.set("spark.sql.catalog.invlive", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.invlive.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val p = s"$root/ns/sink"
    GraftWriter.write(spark, Seq((1L, 10L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.addCheckConstraint(spark, p, "v_positive", "v > 0")
    def dataFiles: Set[String] = listing(p).filter(_.endsWith(".parquet"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmpDir("inv_live_ckpt"))
      .toTable("invlive.ns.sink")
    try {
      mem.addData((2L, 20L))
      q.processAllAvailable()
      // a dropped constraint no longer refuses rows
      GraftWriter.dropCheckConstraint(spark, p, "v_positive")
      mem.addData((3L, -3L))
      q.processAllAvailable()
      assert(GraftTable(spark, p).toDf().count() == 3)
      // an added one refuses them from the next epoch on
      GraftWriter.addCheckConstraint(spark, p, "k_small", "k < 10")
      val v0 = GraftTable(spark, p).version()
      val files0 = dataFiles
      mem.addData((11L, 5L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains("k_small"))),
        causes.map(_.getMessage).mkString("\n"))
      assert(GraftTable(spark, p).version() == v0)
      assert(dataFiles == files0)
    } finally q.stop()
  }

  test("an epoch written before the table's invariants changed is not committed") {
    val p = tmpDir("inv_epoch") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val files0 = listing(p).filter(_.endsWith(".parquet"))
    val sw = new org.apache.spark.sql.graft.GraftStreamingWrite(
      p, GraftTable(spark, p).toDf().schema, "q-inv", Nil)
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(2L, 200L))
    val msg = w.commit()
    GraftWriter.addCheckConstraint(spark, p, "v_small", "v < 100")
    val v0 = GraftTable(spark, p).version()
    intercept[graft.log.MetadataChangedException](sw.commit(0L, Array(msg)))
    sw.abort(0L, Array(msg))
    assert(GraftTable(spark, p).version() == v0)
    assert(listing(p).filter(_.endsWith(".parquet")) == files0)
    assert(GraftTable(spark, p).toDf().count() == 1)
  }
}
