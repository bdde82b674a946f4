package graft.log

import java.io.{InputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken, StreamWriteFeature}

/** The commit log's JSON codec: every document under `_graft_log/`
  * (commits, single-file checkpoints, checkpoint shards and manifests,
  * the retention-folded metadata sidecar) is written and read here, with
  * Jackson's streaming generator and parser — no reflection and no
  * intermediate JSON tree, so a cold open of a 20k-file checkpoint
  * decodes in tens of milliseconds instead of hundreds.
  *
  * The wire format is the one the log has always had (the
  * `Serialization.write` / `extract` layout of the case classes in
  * [[CommitLog]]), byte for byte, so logs written by older builds read
  * here and logs written here read in older builds:
  *   - fields in constructor order; a `None` field is omitted;
  *   - maps as objects in the map's iteration order, sequences as arrays;
  *   - compact output, Jackson's default string escaping (quotes,
  *     backslashes and control characters; non-ASCII text as UTF-8).
  *
  * Decoding is lenient the same way: an absent field with a case-class
  * default takes the default (pre-DV, pre-CDF, pre-row-tracking logs),
  * JSON `null` reads as `None`, and unknown fields are skipped. An absent
  * required field, or a value of the wrong JSON type, throws.
  */
object LogJson {

  /** Encoder and decoder of one document type. */
  trait Codec[A] {
    def write(g: JsonGenerator, a: A): Unit
    /** Reads one value; the parser is positioned on its first token. */
    def read(p: JsonParser): A
  }

  // closing a generator must not close the caller's stream
  private val factory =
    new JsonFactoryBuilder().disable(StreamWriteFeature.AUTO_CLOSE_TARGET).build()

  /** `a` as UTF-8 JSON bytes. */
  def encode[A](a: A)(implicit c: Codec[A]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    encodeTo(a, out)
    out.toByteArray
  }

  /** Stream `a` as UTF-8 JSON into `out` (left open). The generator
    * writes characters through a UTF-8 writer, which is how the log's
    * documents have always been produced (a string, then its UTF-8
    * bytes) — the same bytes, without materializing the string.
    */
  def encodeTo[A](a: A, out: OutputStream)(implicit c: Codec[A]): Unit = {
    val w = new OutputStreamWriter(out, StandardCharsets.UTF_8)
    val g = factory.createGenerator(w)
    c.write(g, a)
    g.close()
    w.flush()
  }

  /** Decode one document from `in`, which is always closed. */
  def decode[A](in: InputStream)(implicit c: Codec[A]): A =
    try {
      val p = factory.createParser(in)
      try {
        p.nextToken()
        val a = c.read(p)
        if (p.nextToken() != null)
          throw new IllegalArgumentException(s"trailing content after the document at ${where(p)}")
        a
      } finally p.close()
    } finally in.close()

  // ---- decoding helpers -------------------------------------------------

  private def where(p: JsonParser): String = {
    val l = p.currentLocation()
    s"line ${l.getLineNr}, column ${l.getColumnNr}"
  }

  private def fail(p: JsonParser, what: String): Nothing =
    throw new IllegalArgumentException(
      s"commit log JSON: expected $what, found ${p.currentToken()} at ${where(p)}")

  /** Walk an object's fields, handing each value's first token to `field`
    * (which must consume the whole value — or decline with `false`, and
    * the value is skipped).
    */
  private def readFields(p: JsonParser, what: String)(field: String => Boolean): Unit = {
    if (p.currentToken() != JsonToken.START_OBJECT) fail(p, s"$what object")
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName()
      p.nextToken()
      if (!field(name)) p.skipChildren()
    }
  }

  private def isNull(p: JsonParser): Boolean = p.currentToken() == JsonToken.VALUE_NULL

  private def str(p: JsonParser): String =
    if (p.currentToken() == JsonToken.VALUE_STRING) p.getText else fail(p, "a string")

  private def long(p: JsonParser): Long =
    if (p.currentToken() == JsonToken.VALUE_NUMBER_INT) p.getLongValue else fail(p, "an integer")

  private def opt[A](p: JsonParser)(read: JsonParser => A): Option[A] =
    if (isNull(p)) None else Some(read(p))

  private def seq[A](p: JsonParser)(read: JsonParser => A): Seq[A] = {
    if (p.currentToken() != JsonToken.START_ARRAY) fail(p, "an array")
    val b = Vector.newBuilder[A]
    while (p.nextToken() != JsonToken.END_ARRAY) b += read(p)
    b.result()
  }

  private def map[A](p: JsonParser, what: String)(read: JsonParser => A): Map[String, A] = {
    val b = Map.newBuilder[String, A]
    readFields(p, what) { k => b += k -> read(p); true }
    b.result()
  }

  /** A required field's value, or a loud failure naming it. */
  private def req[A](v: Option[A], field: String, what: String): A =
    v.getOrElse(throw new IllegalArgumentException(
      s"commit log JSON: $what has no `$field`"))

  // ---- encoding helpers -------------------------------------------------

  private def writeStrings(g: JsonGenerator, name: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(name)
    xs.foreach(g.writeString)
    g.writeEndArray()
  }

  private def writeMap[A](g: JsonGenerator, name: String, m: Map[String, A])(
      value: A => Unit): Unit = {
    g.writeObjectFieldStart(name)
    m.foreach { case (k, v) => g.writeFieldName(k); value(v) }
    g.writeEndObject()
  }

  private def writeArray[A](g: JsonGenerator, name: String, xs: Seq[A])(
      implicit c: Codec[A]): Unit = {
    g.writeArrayFieldStart(name)
    xs.foreach(c.write(g, _))
    g.writeEndArray()
  }

  // ---- codecs -----------------------------------------------------------

  implicit val fileColStatCodec: Codec[FileColStat] = new Codec[FileColStat] {
    def write(g: JsonGenerator, s: FileColStat): Unit = {
      g.writeStartObject()
      s.min.foreach(g.writeStringField("min", _))
      s.max.foreach(g.writeStringField("max", _))
      g.writeNumberField("nullCount", s.nullCount)
      g.writeEndObject()
    }
    def read(p: JsonParser): FileColStat = {
      var min, max = Option.empty[String]
      var nullCount = Option.empty[Long]
      readFields(p, "column stat") {
        case "min" => min = opt(p)(str); true
        case "max" => max = opt(p)(str); true
        case "nullCount" => nullCount = Some(long(p)); true
        case _ => false
      }
      FileColStat(min, max, req(nullCount, "nullCount", "a column stat"))
    }
  }

  implicit val dvFileCodec: Codec[DvFile] = new Codec[DvFile] {
    def write(g: JsonGenerator, d: DvFile): Unit = {
      g.writeStartObject()
      g.writeStringField("path", d.path)
      g.writeNumberField("cardinality", d.cardinality)
      g.writeEndObject()
    }
    def read(p: JsonParser): DvFile = {
      var path = Option.empty[String]
      var card = Option.empty[Long]
      readFields(p, "deletion vector") {
        case "path" => path = Some(str(p)); true
        case "cardinality" => card = Some(long(p)); true
        case _ => false
      }
      DvFile(req(path, "path", "a deletion vector"),
        req(card, "cardinality", "a deletion vector"))
    }
  }

  implicit val addFileCodec: Codec[AddFile] = new Codec[AddFile] {
    def write(g: JsonGenerator, a: AddFile): Unit = {
      g.writeStartObject()
      g.writeStringField("path", a.path)
      writeMap(g, "partitionValues", a.partitionValues)(g.writeString)
      g.writeNumberField("sizeBytes", a.sizeBytes)
      g.writeNumberField("numRecords", a.numRecords)
      g.writeNumberField("modificationTime", a.modificationTime)
      writeMap(g, "stats", a.stats)(fileColStatCodec.write(g, _))
      a.dv.foreach { d => g.writeFieldName("dv"); dvFileCodec.write(g, d) }
      a.clusteredBy.foreach(g.writeStringField("clusteredBy", _))
      a.baseRowId.foreach(g.writeNumberField("baseRowId", _))
      a.addedVersion.foreach(g.writeNumberField("addedVersion", _))
      g.writeEndObject()
    }
    def read(p: JsonParser): AddFile = {
      var path = Option.empty[String]
      var partitionValues = Option.empty[Map[String, String]]
      var sizeBytes, numRecords, modificationTime = Option.empty[Long]
      var stats = Map.empty[String, FileColStat]
      var dv = Option.empty[DvFile]
      var clusteredBy = Option.empty[String]
      var baseRowId, addedVersion = Option.empty[Long]
      readFields(p, "add action") {
        case "path" => path = Some(str(p)); true
        case "partitionValues" => partitionValues = Some(map(p, "partition values")(str)); true
        case "sizeBytes" => sizeBytes = Some(long(p)); true
        case "numRecords" => numRecords = Some(long(p)); true
        case "modificationTime" => modificationTime = Some(long(p)); true
        case "stats" => if (!isNull(p)) stats = map(p, "stats")(fileColStatCodec.read); true
        case "dv" => dv = opt(p)(dvFileCodec.read); true
        case "clusteredBy" => clusteredBy = opt(p)(str); true
        case "baseRowId" => baseRowId = opt(p)(long); true
        case "addedVersion" => addedVersion = opt(p)(long); true
        case _ => false
      }
      val what = "an add action"
      AddFile(req(path, "path", what), req(partitionValues, "partitionValues", what),
        req(sizeBytes, "sizeBytes", what), req(numRecords, "numRecords", what),
        req(modificationTime, "modificationTime", what), stats, dv, clusteredBy,
        baseRowId, addedVersion)
    }
  }

  implicit val removeFileCodec: Codec[RemoveFile] = new Codec[RemoveFile] {
    def write(g: JsonGenerator, r: RemoveFile): Unit = {
      g.writeStartObject()
      g.writeStringField("path", r.path)
      g.writeEndObject()
    }
    def read(p: JsonParser): RemoveFile = {
      var path = Option.empty[String]
      readFields(p, "remove action") {
        case "path" => path = Some(str(p)); true
        case _ => false
      }
      RemoveFile(req(path, "path", "a remove action"))
    }
  }

  implicit val commitCodec: Codec[Commit] = new Codec[Commit] {
    def write(g: JsonGenerator, c: Commit): Unit = {
      g.writeStartObject()
      g.writeNumberField("version", c.version)
      g.writeNumberField("timestampMs", c.timestampMs)
      g.writeStringField("operation", c.operation)
      g.writeStringField("mode", c.mode)
      g.writeStringField("schemaDdl", c.schemaDdl)
      writeStrings(g, "partitionColumns", c.partitionColumns)
      writeMap(g, "metadata", c.metadata)(g.writeString)
      writeMap(g, "operationMetrics", c.operationMetrics)(g.writeNumber(_: Long))
      writeArray(g, "add", c.add)
      writeArray(g, "remove", c.remove)
      writeArray(g, "cdc", c.cdc)
      g.writeEndObject()
    }
    def read(p: JsonParser): Commit = {
      var version, timestampMs = Option.empty[Long]
      var operation, mode, schemaDdl = Option.empty[String]
      var partitionColumns = Option.empty[Seq[String]]
      var metadata = Option.empty[Map[String, String]]
      var operationMetrics = Option.empty[Map[String, Long]]
      var add = Option.empty[Seq[AddFile]]
      var remove = Option.empty[Seq[RemoveFile]]
      var cdc: Seq[AddFile] = Nil
      readFields(p, "commit") {
        case "version" => version = Some(long(p)); true
        case "timestampMs" => timestampMs = Some(long(p)); true
        case "operation" => operation = Some(str(p)); true
        case "mode" => mode = Some(str(p)); true
        case "schemaDdl" => schemaDdl = Some(str(p)); true
        case "partitionColumns" => partitionColumns = Some(seq(p)(str)); true
        case "metadata" => metadata = Some(map(p, "metadata")(str)); true
        case "operationMetrics" => operationMetrics = Some(map(p, "metrics")(long)); true
        case "add" => add = Some(seq(p)(addFileCodec.read)); true
        case "remove" => remove = Some(seq(p)(removeFileCodec.read)); true
        case "cdc" => if (!isNull(p)) cdc = seq(p)(addFileCodec.read); true
        case _ => false
      }
      val what = "a commit"
      Commit(req(version, "version", what), req(timestampMs, "timestampMs", what),
        req(operation, "operation", what), req(mode, "mode", what),
        req(schemaDdl, "schemaDdl", what),
        req(partitionColumns, "partitionColumns", what), req(metadata, "metadata", what),
        req(operationMetrics, "operationMetrics", what), req(add, "add", what),
        req(remove, "remove", what), cdc)
    }
  }

  implicit val checkpointCodec: Codec[Checkpoint] = new Codec[Checkpoint] {
    def write(g: JsonGenerator, c: Checkpoint): Unit = {
      g.writeStartObject()
      g.writeNumberField("version", c.version)
      g.writeNumberField("timestampMs", c.timestampMs)
      g.writeStringField("schemaDdl", c.schemaDdl)
      writeStrings(g, "partitionColumns", c.partitionColumns)
      writeArray(g, "files", c.files)
      g.writeEndObject()
    }
    def read(p: JsonParser): Checkpoint = {
      var version, timestampMs = Option.empty[Long]
      var schemaDdl = Option.empty[String]
      var partitionColumns = Option.empty[Seq[String]]
      var files = Option.empty[Seq[AddFile]]
      readFields(p, "checkpoint") {
        case "version" => version = Some(long(p)); true
        case "timestampMs" => timestampMs = Some(long(p)); true
        case "schemaDdl" => schemaDdl = Some(str(p)); true
        case "partitionColumns" => partitionColumns = Some(seq(p)(str)); true
        case "files" => files = Some(seq(p)(addFileCodec.read)); true
        case _ => false
      }
      val what = "a checkpoint"
      Checkpoint(req(version, "version", what), req(timestampMs, "timestampMs", what),
        req(schemaDdl, "schemaDdl", what),
        req(partitionColumns, "partitionColumns", what), req(files, "files", what))
    }
  }

  implicit val manifestCodec: Codec[CheckpointManifest] = new Codec[CheckpointManifest] {
    def write(g: JsonGenerator, m: CheckpointManifest): Unit = {
      g.writeStartObject()
      g.writeNumberField("version", m.version)
      g.writeNumberField("timestampMs", m.timestampMs)
      g.writeStringField("schemaDdl", m.schemaDdl)
      writeStrings(g, "partitionColumns", m.partitionColumns)
      g.writeNumberField("numShards", m.numShards)
      g.writeNumberField("numFiles", m.numFiles)
      g.writeEndObject()
    }
    def read(p: JsonParser): CheckpointManifest = {
      var version, timestampMs, numFiles = Option.empty[Long]
      var schemaDdl = Option.empty[String]
      var partitionColumns = Option.empty[Seq[String]]
      var numShards = Option.empty[Int]
      readFields(p, "checkpoint manifest") {
        case "version" => version = Some(long(p)); true
        case "timestampMs" => timestampMs = Some(long(p)); true
        case "schemaDdl" => schemaDdl = Some(str(p)); true
        case "partitionColumns" => partitionColumns = Some(seq(p)(str)); true
        case "numShards" => numShards = Some(Math.toIntExact(long(p))); true
        case "numFiles" => numFiles = Some(long(p)); true
        case _ => false
      }
      val what = "a checkpoint manifest"
      CheckpointManifest(req(version, "version", what),
        req(timestampMs, "timestampMs", what), req(schemaDdl, "schemaDdl", what),
        req(partitionColumns, "partitionColumns", what),
        req(numShards, "numShards", what), req(numFiles, "numFiles", what))
    }
  }

  /** A checkpoint shard: a bare array of add actions. */
  implicit val addFilesCodec: Codec[Seq[AddFile]] = new Codec[Seq[AddFile]] {
    def write(g: JsonGenerator, xs: Seq[AddFile]): Unit = {
      g.writeStartArray()
      xs.foreach(addFileCodec.write(g, _))
      g.writeEndArray()
    }
    def read(p: JsonParser): Seq[AddFile] = seq(p)(addFileCodec.read)
  }

  /** The retention-folded metadata sidecar: a flat string map. */
  implicit val stringMapCodec: Codec[Map[String, String]] = new Codec[Map[String, String]] {
    def write(g: JsonGenerator, m: Map[String, String]): Unit = {
      g.writeStartObject()
      m.foreach { case (k, v) => g.writeStringField(k, v) }
      g.writeEndObject()
    }
    def read(p: JsonParser): Map[String, String] = map(p, "folded metadata")(str)
  }
}
