package graft

import java.util.SplittableRandom

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** [[LogJson]] against json4s, the codec every earlier build of the log
  * used (kept here as a test-only oracle): on seeded random log values
  * the encodings are byte-identical and each side decodes the other's
  * output to an equal value; legacy documents (fields added by later
  * features absent), `null` options and unknown fields decode as json4s
  * `extract` does.
  */
class LogJsonSpec extends AnyFunSuite {

  private implicit val formats: Formats = DefaultFormats

  private def json4s(a: AnyRef): Array[Byte] = Serialization.write(a).getBytes("UTF-8")

  private def decode[A: LogJson.Codec](bytes: Array[Byte]): A =
    LogJson.decode[A](new java.io.ByteArrayInputStream(bytes))

  /** Seeded generator of log values; the spec checks that every
    * None/Some and empty/non-empty shape appears across its seeds.
    */
  private final class Gen(seed: Long) {
    private val r = new SplittableRandom(seed)
    private val texts = Seq("", "a", "p=1/part-00000.parquet", "quote\"d", "back\\slash",
      "tab\tnew\nline", "ctrl\u0001\u001f", "café", "日本語/ファイル", "emoji 😀",
      "slash/and\\u0041", "{\"json\":[1,2]}", "\u007f\u0080 ")
    def bool(): Boolean = r.nextBoolean()
    def text(): String = texts(r.nextInt(texts.size)) + (if (bool()) r.nextInt(100) else "")
    def long(): Long = r.nextInt(6) match {
      case 0 => Long.MinValue
      case 1 => Long.MaxValue
      case 2 => -r.nextLong(1000000L) - 1
      case 3 => 0L
      case _ => r.nextLong()
    }
    def opt[A](a: => A): Option[A] = if (bool()) Some(a) else None
    def seqOf[A](max: Int)(a: => A): Seq[A] = Seq.fill(r.nextInt(max + 1))(a)
    // up to 7 entries: small maps keep insertion order, larger ones hash
    def mapOf[A](a: => A): Map[String, A] =
      Seq.fill(r.nextInt(8))(text() -> a).toMap
    def stat(): FileColStat = FileColStat(opt(text()), opt(text()), long())
    def add(): AddFile = AddFile(text(), mapOf(text()), long(), long(), long(),
      mapOf(stat()), opt(DvFile(text(), long())), opt(text()), opt(long()), opt(long()))
    def commit(): Commit = Commit(long(), long(), text(), text(), text(), seqOf(3)(text()),
      mapOf(text()), mapOf(long()), seqOf(4)(add()), seqOf(3)(RemoveFile(text())),
      seqOf(2)(add()))
    def checkpoint(): Checkpoint =
      Checkpoint(long(), long(), text(), seqOf(3)(text()), seqOf(6)(add()))
    def manifest(): CheckpointManifest =
      CheckpointManifest(long(), long(), text(), seqOf(3)(text()), r.nextInt(), long())
  }

  private def roundTrips[A <: AnyRef](a: A)(implicit c: LogJson.Codec[A], m: Manifest[A]): Unit = {
    val ours = LogJson.encode(a)
    val theirs = json4s(a)
    assert(ours.sameElements(theirs),
      s"encodings differ:\n  LogJson ${new String(ours, "UTF-8")}\n  json4s  ${new String(theirs, "UTF-8")}")
    assert(decode[A](theirs) == a)
    assert(JsonMethods.parse(new String(ours, "UTF-8")).extract[A] == a)
  }

  test("seeded log values: byte-identical to json4s, and each side decodes the other") {
    var shapes = Set.empty[String]
    (0L until 400L).foreach { seed =>
      val g = new Gen(seed)
      val c = g.commit()
      roundTrips(c)
      roundTrips(g.checkpoint())
      roundTrips(g.manifest())
      roundTrips(c.add) // a checkpoint shard
      roundTrips(c.metadata) // the folded-metadata sidecar
      (c.add ++ c.cdc).foreach { a =>
        shapes ++= Seq(s"dv=${a.dv.isDefined}", s"clusteredBy=${a.clusteredBy.isDefined}",
          s"baseRowId=${a.baseRowId.isDefined}", s"addedVersion=${a.addedVersion.isDefined}",
          s"stats=${a.stats.nonEmpty}", s"partitionValues=${a.partitionValues.nonEmpty}") ++
          a.stats.values.flatMap(s => Seq(s"min=${s.min.isDefined}", s"max=${s.max.isDefined}"))
      }
      shapes ++= Seq(s"cdc=${c.cdc.nonEmpty}", s"metadata=${c.metadata.size > 4}")
    }
    val want = Seq("dv", "clusteredBy", "baseRowId", "addedVersion", "stats",
      "partitionValues", "min", "max", "cdc").flatMap(f => Seq(s"$f=true", s"$f=false")) ++
      Seq("metadata=true", "metadata=false")
    assert(want.toSet.subsetOf(shapes), want.toSet -- shapes)
  }

  private def bothDecode[A <: AnyRef](json: String)(
      implicit c: LogJson.Codec[A], m: Manifest[A]): A = {
    val ours = decode[A](json.getBytes("UTF-8"))
    assert(ours == JsonMethods.parse(json).extract[A])
    ours
  }

  test("legacy documents: later fields absent take their defaults") {
    // pre-DV, pre-CDF, pre-row-tracking commit with a pre-stats add action
    val c = bothDecode[Commit](
      """{"version":3,"timestampMs":-5,"operation":"WRITE","mode":"Append",""" +
        """"schemaDdl":"k BIGINT","partitionColumns":["p"],"metadata":{"a":"b"},""" +
        """"operationMetrics":{"n":-1},"add":[{"path":"p=1/x.parquet",""" +
        """"partitionValues":{"p":"1"},"sizeBytes":1,"numRecords":2,"modificationTime":3}],""" +
        """"remove":[{"path":"old"}]}""")
    assert(c.cdc.isEmpty && c.operationMetrics == Map("n" -> -1L))
    val a = c.add.head
    assert(a.stats.isEmpty && a.dv.isEmpty && a.clusteredBy.isEmpty &&
      a.baseRowId.isEmpty && a.addedVersion.isEmpty)
    val ck = bothDecode[Checkpoint](
      """{"version":1,"timestampMs":2,"schemaDdl":"k BIGINT","partitionColumns":[],""" +
        """"files":[{"path":"x","partitionValues":{},"sizeBytes":1,"numRecords":2,""" +
        """"modificationTime":3,"stats":{"k":{"nullCount":-1}}}]}""")
    assert(ck.files.head.stats == Map("k" -> FileColStat(None, None, -1L)))
  }

  test("null options read as None; unknown fields are skipped") {
    val a = bothDecode[AddFile](
      """{"future":{"nested":[1,{"x":null}],"s":"t"},"path":"x","partitionValues":{},""" +
        """"sizeBytes":1,"numRecords":2,"modificationTime":3,""" +
        """"stats":{"k":{"min":null,"max":"9","nullCount":0,"extra":[true]}},""" +
        """"dv":null,"clusteredBy":null,"baseRowId":null,"addedVersion":7,"tail":1.5}""")
    assert(a == AddFile("x", Map.empty, 1L, 2L, 3L,
      Map("k" -> FileColStat(None, Some("9"), 0L)), addedVersion = Some(7L)))
    val m = bothDecode[CheckpointManifest](
      """{"version":1,"timestampMs":2,"schemaDdl":"","partitionColumns":["a"],""" +
        """"numShards":3,"numFiles":4,"writer":{"name":"later build"}}""")
    assert(m == CheckpointManifest(1L, 2L, "", Seq("a"), 3, 4L))
  }

  test("a sharded checkpoint round-trips; json4s reads what LogJson wrote and vice versa") {
    val dir = java.nio.file.Files.createTempDirectory("logjson").toString + "/t"
    val log = new CommitLog(dir, new org.apache.hadoop.conf.Configuration(),
      checkpointInterval = 0, checkpointShardRecords = 3)
    val g = new Gen(7L)
    val commits = (0 until 3).map { v =>
      val adds = (0 until 4).map(i => g.add().copy(path = s"f-$v-$i", dv = None))
      log.commit("WRITE", "Append", "k BIGINT", Nil, Map.empty, Map.empty, adds, Nil)
      adds.map(a => a.copy(addedVersion = a.addedVersion.orElse(Some(v.toLong))))
    }
    log.writeCheckpoint(2L)
    val logDir = java.nio.file.Paths.get(dir, "_graft_log")
    def gunzip(name: String): String = new String(
      new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(logDir.resolve(name))).readAllBytes(), "UTF-8")
    val manifest = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(logDir.resolve("ckpt-v0000000002.manifest")), "UTF-8"))
      .extract[CheckpointManifest]
    assert(manifest.numShards == 4 && manifest.numFiles == 12L)
    val shards = (0 until 4).map(i =>
      JsonMethods.parse(gunzip(f"ckpt-v0000000002.shard-$i%05d.gz")).extract[Seq[AddFile]])
    assert(shards.flatten == commits.flatten)
    assert(log.readCheckpoint(2L).files == commits.flatten)
    // a commit written by an older build (json4s) replays on top
    val older = g.commit().copy(version = 3L, schemaDdl = "k BIGINT", partitionColumns = Nil,
      metadata = Map.empty, add = Seq(g.add().copy(path = "older", dv = None)),
      remove = Seq(RemoveFile("f-0-0")), cdc = Nil)
    java.nio.file.Files.write(logDir.resolve("v0000000003.json"), json4s(older))
    val snap = log.snapshot()
    assert(snap.version == 3L && snap.commits.map(_.version) == Seq(2L, 3L))
    assert(snap.files.map(_.path) == commits.flatten.map(_.path).tail :+ "older")
  }

  test("malformed documents fail loudly") {
    Seq(
      """{"path":"x","partitionValues":{},"sizeBytes":1,"numRecords":2}""", // field missing
      """{"path":"x","partitionValues":{},"sizeBytes":"1","numRecords":2,"modificationTime":3}""",
      """{"path":"x","partitionValues":{},"sizeBytes":1,"numRecords":2,"modificationTime":3} []""",
      """{"path":"x","partitionValues":{""").foreach { bad =>
      intercept[Exception](decode[AddFile](bad.getBytes("UTF-8")))
    }
  }
}
