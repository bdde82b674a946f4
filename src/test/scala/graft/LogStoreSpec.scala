package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.log.{CommitLog, ConditionalPutLogStore, LogStore}

/** Pluggable commit publication ([[graft.log.LogStore]]): the
  * conditional-put strategy for stores without atomic rename must never
  * lose a commit SILENTLY — every observable race outcome is a loud
  * ConcurrentModificationException that the optimistic-retry loops
  * convert into a clean re-derive.
  */
class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  private def condConf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set(LogStore.ConfKey, classOf[ConditionalPutLogStore].getName)
    c
  }

  private def commitRow(log: CommitLog, expected: Option[Long] = None): Long =
    log.commit(
      operation = "WRITE", mode = "append", schemaDdl = "a BIGINT",
      partitionColumns = Nil, metadata = Map.empty,
      operationMetrics = Map.empty, add = Nil, remove = Nil,
      expectedVersion = expected)

  test("conditional-put store commits sequentially and CASes like the rename store") {
    val p = tmpDir("lscond") + "/t"
    val log = new CommitLog(p, condConf())
    assert(commitRow(log) == 0L)
    assert(commitRow(log) == 1L)
    assert(log.versions() == Seq(0L, 1L))
    // CAS contract unchanged
    intercept[java.util.ConcurrentModificationException] {
      commitRow(log, expected = Some(0L))
    }
    assert(commitRow(log, expected = Some(1L)) == 2L)
  }

  test("conditional-put store: concurrent committers never lose a version") {
    val p = tmpDir("lsconc") + "/t"
    // local-FS create(overwrite=false) is CHECK-THEN-ACT, so raw
    // ConditionalPutLogStore under deliberate same-version contention
    // can double-acknowledge (the documented residual a store-native
    // conditional primitive removes). AtomicCondPutStore models exactly
    // that primitive: an atomic exists+create — which is the contract
    // this test verifies the protocol against.
    val conf = condConf()
    conf.set(LogStore.ConfKey, classOf[AtomicCondPutStore].getName)
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        val log = new CommitLog(p, conf)
        var attempts = 0
        var done = false
        while (!done && attempts < 200) {
          try { committed.add(commitRow(log)); done = true }
          catch {
            // CME = lost a race; other NonFatal = transiently observed a
            // mid-put commit (a POSIX visibility artifact — object-store
            // PUTs are atomic, see ConditionalPutLogStore docs). Both
            // retry; the invariant under test is NO SILENT LOSS.
            case scala.util.control.NonFatal(_) => attempts += 1
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(committed.size() == 6, s"lost commits: $committed")
    // every committed version is a distinct, parseable log entry
    val log = new CommitLog(p, conf)
    assert(log.versions().size == 6)
    log.versions().foreach(v => assert(log.readCommit(v).version == v))
  }

  test("a racer winning the exclusive create loses us LOUDLY, keeps the racer") {
    val p = tmpDir("lsplant") + "/t"
    val conf = condConf()
    conf.set(LogStore.ConfKey, classOf[PlantingStore].getName)
    val log = new CommitLog(p, conf)
    assert(commitRow(log) == 0L)
    PlantingStore.plantBytes = "racer-owned".getBytes("UTF-8")
    val ex = intercept[java.util.ConcurrentModificationException] {
      commitRow(log)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the racer's file survived byte-for-byte — never clobbered
    val fs = new Path(p).getFileSystem(conf)
    val in = fs.open(new Path(p, "_graft_log/v0000000001.json"))
    val buf = new Array[Byte](64)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "racer-owned")
    // no stray staging temp left behind
    assert(!fs.listStatus(new Path(p, "_graft_log"))
      .exists(_.getPath.getName.startsWith(".tmp-")))
  }

  test("a blind-put store (no exclusive create) still refuses to lose silently") {
    val p = tmpDir("lsblind") + "/t"
    val conf = condConf()
    conf.set(LogStore.ConfKey, classOf[BlindRaceStore].getName)
    val log = new CommitLog(p, conf)
    assert(commitRow(log) == 0L)
    // next publish: our bytes land, then a racer's overwrite is
    // acknowledged after ours — the read-back must refuse the loss
    BlindRaceStore.raceBytes = "racer-late".getBytes("UTF-8")
    intercept[java.util.ConcurrentModificationException] { commitRow(log) }
    // racer's content survived; a later commit resumes cleanly... at
    // the version AFTER the racer's (the racer's commit is garbage
    // here, so only assert no silent clobber happened)
    val fs = new Path(p).getFileSystem(conf)
    val in = fs.open(new Path(p, "_graft_log/v0000000001.json"))
    val buf = new Array[Byte](64)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "racer-late")
  }

  test("end-to-end: writes through the session-conf-selected store round-trip") {
    // a session conf reaches the writers' Hadoop conf under its bare key
    spark.conf.set(LogStore.ConfKey, classOf[CountingCondPutStore].getName)
    try {
      val p = tmpDir("lse2e") + "/t"
      GraftWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Overwrite))
      GraftWriter.write(spark, Seq((3L, "c")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
      assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
      // both commits went through the selected store
      val logDir = new CommitLog(p, spark.sessionState.newHadoopConf())
        .logDir.toUri.getPath
      assert(CountingCondPutStore.published.toArray.map(_.toString)
        .count(_.startsWith(logDir + "/")) == 2)
    } finally spark.conf.unset(LogStore.ConfKey)
  }
}

/** A conditional-put store recording each path it published. */
class CountingCondPutStore extends ConditionalPutLogStore {
  override def publish(
      fs: FileSystem,
      conf: Configuration,
      tmp: Path,
      target: Path,
      context: String): Unit = {
    super.publish(fs, conf, tmp, target, context)
    CountingCondPutStore.published.add(target.toUri.getPath)
  }
}
object CountingCondPutStore {
  val published = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** A conditional-put whose exclusive create is ATOMIC (JVM lock around
  * exists+create) — the primitive a real object-store conditional PUT
  * (S3 If-None-Match, GCS preconditions, Azure ETags) provides across
  * clients; local create(false) alone is check-then-act.
  */
class AtomicCondPutStore extends ConditionalPutLogStore {
  override protected def createExclusive(
      fs: FileSystem, target: Path): org.apache.hadoop.fs.FSDataOutputStream =
    AtomicCondPutStore.lock.synchronized {
      if (fs.exists(target))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(target.toString)
      fs.create(target, false)
    }
}
object AtomicCondPutStore {
  val lock = new Object
}

/** Fault injection: a racer's exclusive create wins just before ours. */
class PlantingStore extends ConditionalPutLogStore {
  override protected def createExclusive(
      fs: FileSystem, target: Path): org.apache.hadoop.fs.FSDataOutputStream = {
    PlantingStore.plantBytes match {
      case null => ()
      case b =>
        PlantingStore.plantBytes = null
        val out = fs.create(target, true)
        try out.write(b) finally out.close()
    }
    super.createExclusive(fs, target)
  }
}
object PlantingStore {
  @volatile var plantBytes: Array[Byte] = null
}

/** Fault injection: the store has NO exclusive create (blind put) and a
  * racer's overwrite is acknowledged after ours.
  */
class BlindRaceStore extends ConditionalPutLogStore {
  override protected def createExclusive(
      fs: FileSystem, target: Path): org.apache.hadoop.fs.FSDataOutputStream =
    fs.create(target, true) // a blind put: never detects the collision
  override protected def beforeVerify(fs: FileSystem, target: Path): Unit =
    BlindRaceStore.raceBytes match {
      case null => ()
      case b =>
        BlindRaceStore.raceBytes = null
        val out = fs.create(target, true)
        try out.write(b) finally out.close()
    }
}
object BlindRaceStore {
  @volatile var raceBytes: Array[Byte] = null
}
