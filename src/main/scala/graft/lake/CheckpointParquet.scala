package graft.lake

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Columnar (parquet) encoding of checkpoint sidecars — the AddFile
  * slices a manifest checkpoint references ([[LakeLog]]'s manifest +
  * `_sidecars/` form). Delta's checkpoint format is parquet because at
  * 10⁷ AddFiles the replay bottleneck is TEXT PARSING: a JSON
  * checkpoint decodes every character of every field through a
  * generic parser, while parquet decodes typed columns with
  * dictionary/RLE encoding and snappy blocks. One row per AddFile, in
  * one `add` group; the head actions (Protocol, Metadata,
  * DomainMetadata, Txn) ride the JSON manifest, and small tables keep
  * the single-file JSON checkpoint (human-inspectable, and parse time
  * is irrelevant at that size).
  *
  * Uses parquet-java directly (the [[ParquetFooters]] precedent): the
  * log layer stays free of Spark jobs — sidecars are driver-written,
  * and decode concurrently across cores in replay or as tasks of the
  * columnar index's scans.
  */
object CheckpointParquet {

  /** Repeated key/value groups rather than annotated MAP/LIST logical
    * types: this file is written and read only by this object, and
    * the plain shape keeps the Group-API code one-liner simple. The
    * schema is versioned by the surrounding file name contract — new
    * OPTIONAL fields append compatibly (old readers ignore them,
    * missing fields read as repetition count 0).
    */
  private val SCHEMA: MessageType = MessageTypeParser.parseMessageType("""
    message graft_checkpoint {
      optional group add {
        required binary path (STRING);
        repeated group partitionValues {
          required binary key (STRING);
          optional binary value (STRING);
        }
        required int64 size;
        required int64 numRecords;
        repeated group minValues {
          required binary key (STRING);
          required binary value (STRING);
        }
        repeated group maxValues {
          required binary key (STRING);
          required binary value (STRING);
        }
        repeated group nullCounts {
          required binary key (STRING);
          required int64 value;
        }
        optional binary dvPath (STRING);
        required int64 dvCardinality;
        optional binary bloomPath (STRING);
        optional int64 baseRowId;
        optional int64 clusterGen;
      }
    }""")

  private def addMap(g: Group, field: String,
      m: Map[String, String]): Unit =
    m.foreach { case (k, v) =>
      val kv = g.addGroup(field)
      kv.add("key", k)
      if (v != null) kv.add("value", v)
    }

  private def toGroup(f: AddFile): Group = {
    val g = new SimpleGroup(SCHEMA)
    val add = g.addGroup("add")
    add.add("path", f.path)
    addMap(add, "partitionValues", f.partitionValues)
    add.add("size", f.size)
    add.add("numRecords", f.numRecords)
    addMap(add, "minValues", f.minValues)
    addMap(add, "maxValues", f.maxValues)
    f.nullCounts.foreach { case (k, v) =>
      val kv = add.addGroup("nullCounts")
      kv.add("key", k); kv.add("value", v)
    }
    f.dvPath.foreach(add.add("dvPath", _))
    add.add("dvCardinality", f.dvCardinality)
    f.bloomPath.foreach(add.add("bloomPath", _))
    f.baseRowId.foreach(add.add("baseRowId", _))
    f.clusterGen.foreach(add.add("clusterGen", _))
    g
  }

  private def readMap(g: Group, field: String): Map[String, String] = {
    val n = g.getFieldRepetitionCount(field)
    (0 until n).map { i =>
      val kv = g.getGroup(field, i)
      val v =
        if (kv.getFieldRepetitionCount("value") > 0) kv.getString("value", 0)
        else null
      kv.getString("key", 0) -> v
    }.toMap
  }

  private def optString(g: Group, field: String): Option[String] =
    if (g.getFieldRepetitionCount(field) > 0) Some(g.getString(field, 0))
    else None

  private def fromGroup(g: Group): AddFile = {
    if (g.getFieldRepetitionCount("add") == 0)
      throw new IllegalArgumentException(
        "checkpoint parquet row with no add group set")
    val a = g.getGroup("add", 0)
    // bulk decode goes through [[Interned.addFile]] (shared key
    // arrays, interned column names / partition values, primitive
    // null counts) — the checkpoint is the O(table) volume, and
    // this runs on executors in the columnar index's distributed
    // scans too (per-JVM intern tables there)
    Interned.addFile(AddFile(
      path = a.getString("path", 0),
      partitionValues = readMap(a, "partitionValues"),
      size = a.getLong("size", 0),
      numRecords = a.getLong("numRecords", 0),
      minValues = readMap(a, "minValues"),
      maxValues = readMap(a, "maxValues"),
      nullCounts = (0 until a.getFieldRepetitionCount("nullCounts"))
        .map { i =>
          val kv = a.getGroup("nullCounts", i)
          kv.getString("key", 0) -> kv.getLong("value", 0)
        }.toMap,
      dvPath = optString(a, "dvPath"),
      dvCardinality = a.getLong("dvCardinality", 0),
      bloomPath = optString(a, "bloomPath"),
      baseRowId =
        if (a.getFieldRepetitionCount("baseRowId") > 0)
          Some(a.getLong("baseRowId", 0))
        else None,
      clusterGen =
        if (a.getFieldRepetitionCount("clusterGen") > 0)
          Some(a.getLong("clusterGen", 0))
        else None))
  }

  /** Stream `adds` into the parquet file at `target` (written via a
    * tmp sibling + atomic publish by the CALLER — this writes the
    * bytes only). Memory is bounded by parquet's row-group buffer,
    * not the row count.
    *
    * Encodes through a direct [[AddWriteSupport]] (round 17): the
    * Group-API writer materialized ~40 boxed objects per AddFile and
    * re-walked them recursively — at a 10⁶-row sidecar write that was
    * the measured bulk of the incremental cadence once the full
    * re-serialization was gone. The emitted FORMAT is byte-compatible
    * (same schema, same field order); a differential suite pins
    * group-writer/direct-writer read-back equality.
    */
  def write(target: Path, adds: Iterator[AddFile]): Unit = {
    val writer = new AddWriterBuilder(
      new org.apache.hadoop.fs.Path(target.toString))
      .withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try adds.foreach(writer.write)
    finally writer.close()
    dropCrcSibling(target)
  }

  /** The Group-API writer — reference implementation the direct
    * writer is differentially tested against.
    */
  private[lake] def writeViaGroups(
      target: Path, adds: Iterator[AddFile]): Unit = {
    val conf = new Configuration()
    GroupWriteSupport.setSchema(SCHEMA, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(target.toString))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try adds.foreach(a => writer.write(toGroup(a)))
    finally writer.close()
    dropCrcSibling(target)
  }

  // Hadoop's default file: scheme is the CHECKSUMMED LocalFileSystem,
  // which drops a ".<name>.crc" sibling next to the staged body; the
  // publish move takes only the body, so the sibling would accrete
  // as debris in the log directory forever. Delete it here (the
  // staging sweeps also match it, as crash-path insurance).
  private def dropCrcSibling(target: Path): Unit = {
    Files.deleteIfExists(
      target.resolveSibling("." + target.getFileName.toString + ".crc"))
    ()
  }

  private final class AddWriterBuilder(
      path: org.apache.hadoop.fs.Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        AddFile, AddWriterBuilder](path) {
    override def self(): AddWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[AddFile] =
      new AddWriteSupport
  }

  /** Emits each AddFile's fields straight to the RecordConsumer in
    * [[SCHEMA]] order — no intermediate Group tree. Field indexes are
    * positional against SCHEMA; repeated groups write all their
    * occurrences inside one startField/endField pair (the
    * GroupWriter contract).
    */
  private final class AddWriteSupport
      extends org.apache.parquet.hadoop.api.WriteSupport[AddFile] {
    import org.apache.parquet.io.api.{Binary, RecordConsumer}

    private var rc: RecordConsumer = _

    override def init(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
      new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
        SCHEMA, java.util.Collections.emptyMap[String, String]())

    override def prepareForWrite(consumer: RecordConsumer): Unit =
      rc = consumer

    private def str(name: String, idx: Int, v: String): Unit = {
      rc.startField(name, idx)
      rc.addBinary(Binary.fromString(v))
      rc.endField(name, idx)
    }

    private def i64(name: String, idx: Int, v: Long): Unit = {
      rc.startField(name, idx)
      rc.addLong(v)
      rc.endField(name, idx)
    }

    private def strMap(name: String, idx: Int,
        m: Map[String, String]): Unit =
      if (m.nonEmpty) {
        rc.startField(name, idx)
        m.foreach { case (k, v) =>
          rc.startGroup()
          str("key", 0, k)
          if (v != null) str("value", 1, v)
          rc.endGroup()
        }
        rc.endField(name, idx)
      }

    override def write(f: AddFile): Unit = {
      rc.startMessage()
      rc.startField("add", 0)
      rc.startGroup()
      str("path", 0, f.path)
      strMap("partitionValues", 1, f.partitionValues)
      i64("size", 2, f.size)
      i64("numRecords", 3, f.numRecords)
      strMap("minValues", 4, f.minValues)
      strMap("maxValues", 5, f.maxValues)
      if (f.nullCounts.nonEmpty) {
        rc.startField("nullCounts", 6)
        f.nullCounts.foreach { case (k, v) =>
          rc.startGroup()
          str("key", 0, k)
          i64("value", 1, v)
          rc.endGroup()
        }
        rc.endField("nullCounts", 6)
      }
      f.dvPath.foreach(str("dvPath", 7, _))
      i64("dvCardinality", 8, f.dvCardinality)
      f.bloomPath.foreach(str("bloomPath", 9, _))
      f.baseRowId.foreach(i64("baseRowId", 10, _))
      f.clusterGen.foreach(i64("clusterGen", 11, _))
      rc.endGroup()
      rc.endField("add", 0)
      rc.endMessage()
    }
  }

  /** All AddFiles of the sidecar at `p` — DIRECT materialization:
    * converter callbacks assemble each AddFile straight from page
    * values, no intermediate Group tree (the read twin of
    * [[AddWriteSupport]]; measured ~2-3× the Group-API decode on the
    * checkpoint hot loop, which bounds snapshot replay and every
    * columnar candidate scan). The Group path survives as
    * [[readViaGroups]], the reference the direct reader is
    * differentially tested against.
    */
  def read(p: Path): Seq[AddFile] = {
    val reader = new AddBuilder(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
      .withConf(new Configuration())
      .build()
    try Iterator.continually(reader.read())
      .takeWhile(_ != null).toVector
    finally reader.close()
  }

  /** Group-API reference reader (differential twin of [[read]]). */
  private[lake] def readViaGroups(p: Path): Seq[AddFile] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(p.toString))
      .withConf(new Configuration())
      .build()
    try Iterator.continually(reader.read())
      .takeWhile(_ != null).map(fromGroup).toVector
    finally reader.close()
  }

  /** [[ParquetReader.Builder]] over an [[InputFile]] with the direct
    * AddFile read support.
    */
  private final class AddBuilder(in: org.apache.parquet.io.InputFile)
      extends ParquetReader.Builder[AddFile](in) {
    override protected def getReadSupport()
        : org.apache.parquet.hadoop.api.ReadSupport[AddFile] =
      new AddReadSupport()
  }

  /** Direct-materialization read support: one converter tree per file
    * schema (built from the FILE's schema, field-by-NAME, so sidecars
    * written by older engine versions — fewer optional add columns —
    * decode through the same tree with absent fields at defaults).
    */
  private final class AddReadSupport
      extends org.apache.parquet.hadoop.api.ReadSupport[AddFile] {
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    override def init(context: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(context.getFileSchema)
    override def prepareForRead(
        conf: Configuration,
        keyValueMetaData: java.util.Map[String, String],
        fileSchema: MessageType,
        readContext: ReadSupport.ReadContext)
        : org.apache.parquet.io.api.RecordMaterializer[AddFile] =
      new AddMaterializer(readContext.getRequestedSchema)
  }

  private final class AddMaterializer(schema: MessageType)
      extends org.apache.parquet.io.api.RecordMaterializer[AddFile] {
    private val root = new AddRootConverter(schema)
    override def getCurrentRecord: AddFile = root.current
    override def getRootConverter
        : org.apache.parquet.io.api.GroupConverter = root
  }

  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
    PrimitiveConverter}
  import org.apache.parquet.schema.GroupType

  private def strConv(set: String => Unit): PrimitiveConverter =
    new PrimitiveConverter {
      // dictionary fast path: decode each distinct binary once per
      // page, not once per row — the path/stats columns are heavily
      // dictionary-encoded
      private var dict: Array[String] = _
      override def hasDictionarySupport: Boolean = true
      override def setDictionary(
          d: org.apache.parquet.column.Dictionary): Unit = {
        dict = Array.tabulate(d.getMaxId + 1)(
          i => d.decodeToBinary(i).toStringUsingUTF8)
      }
      override def addValueFromDictionary(id: Int): Unit = set(dict(id))
      override def addBinary(b: Binary): Unit = set(b.toStringUsingUTF8)
    }
  private def longConv(set: Long => Unit): PrimitiveConverter =
    new PrimitiveConverter {
      override def addLong(v: Long): Unit = set(v)
    }
  /** Repeated {key, optional value} group → (key, value) appended to
    * `buf` per occurrence (value null when absent, the strMap write
    * contract).
    */
  private final class StrKvConverter(
      buf: scala.collection.mutable.ArrayBuffer[(String, String)])
      extends GroupConverter {
    private var k: String = _
    private var v: String = _
    private val kc = strConv(k = _)
    private val vc = strConv(v = _)
    override def getConverter(i: Int): Converter = if (i == 0) kc else vc
    override def start(): Unit = { k = null; v = null }
    override def end(): Unit = { buf += ((k, v)); () }
  }

  /** Repeated {key, long value} group (nullCounts). */
  private final class LongKvConverter(
      buf: scala.collection.mutable.ArrayBuffer[(String, Long)])
      extends GroupConverter {
    private var k: String = _
    private var v: Long = 0L
    private val kc = strConv(k = _)
    private val vc = longConv(v = _)
    override def getConverter(i: Int): Converter = if (i == 0) kc else vc
    override def start(): Unit = { k = null; v = 0L }
    override def end(): Unit = { buf += ((k, v)); () }
  }

  private val noopConverter: PrimitiveConverter = new PrimitiveConverter {
    override def addBinary(b: Binary): Unit = ()
    override def addLong(v: Long): Unit = ()
    override def addInt(v: Int): Unit = ()
    override def addBoolean(v: Boolean): Unit = ()
    override def addDouble(v: Double): Unit = ()
    override def addFloat(v: Float): Unit = ()
  }

  private final class AddConverter(g: GroupType, publish: AddFile => Unit)
      extends GroupConverter {
    private var path: String = _
    private val pv = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    private var size = 0L
    private var numRecords = -1L
    private val mins = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    private val maxs = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    private val nulls = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long)]
    private var dvPath: String = _
    private var dvCardinality = 0L
    private var bloomPath: String = _
    private var baseRowId = Long.MinValue
    private var hasBase = false
    private var clusterGen = Long.MinValue
    private var hasGen = false
    private val slots: Array[Converter] =
      (0 until g.getFieldCount).map { i =>
        g.getFieldName(i) match {
          case "path" => strConv(path = _)
          case "partitionValues" => new StrKvConverter(pv)
          case "size" => longConv(size = _)
          case "numRecords" => longConv(numRecords = _)
          case "minValues" => new StrKvConverter(mins)
          case "maxValues" => new StrKvConverter(maxs)
          case "nullCounts" => new LongKvConverter(nulls)
          case "dvPath" => strConv(dvPath = _)
          case "dvCardinality" => longConv(dvCardinality = _)
          case "bloomPath" => strConv(bloomPath = _)
          case "baseRowId" => longConv(v => { baseRowId = v; hasBase = true })
          case "clusterGen" => longConv(v => { clusterGen = v; hasGen = true })
          case _ => noopConverter // forward-compat: unknown field
        }
      }.toArray
    override def getConverter(i: Int): Converter = slots(i)
    override def start(): Unit = {
      path = null; pv.clear(); size = 0L; numRecords = -1L
      mins.clear(); maxs.clear(); nulls.clear()
      dvPath = null; dvCardinality = 0L; bloomPath = null
      hasBase = false; hasGen = false
    }
    override def end(): Unit = publish(Interned.addFile(AddFile(
      path = path,
      partitionValues = pv.toMap,
      size = size,
      numRecords = numRecords,
      minValues = mins.toMap,
      maxValues = maxs.toMap,
      nullCounts = nulls.toMap,
      dvPath = Option(dvPath),
      dvCardinality = dvCardinality,
      bloomPath = Option(bloomPath),
      baseRowId = if (hasBase) Some(baseRowId) else None,
      clusterGen = if (hasGen) Some(clusterGen) else None)))
  }

  /** No-op group converter for unknown optional groups written by a
    * future engine version (forward compatibility).
    */
  private final class NoopGroupConverter(g: GroupType)
      extends GroupConverter {
    private val slots: Array[Converter] =
      (0 until g.getFieldCount).map { i =>
        g.getType(i) match {
          case gt: GroupType => new NoopGroupConverter(gt)
          case _ => noopConverter
        }
      }.toArray
    override def getConverter(i: Int): Converter = slots(i)
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  private final class AddRootConverter(schema: MessageType)
      extends GroupConverter {
    var current: AddFile = _
    private val slots: Array[Converter] =
      (0 until schema.getFieldCount).map { i =>
        val ft = schema.getType(i)
        schema.getFieldName(i) match {
          case "add" =>
            new AddConverter(ft.asGroupType(), a => current = a)
          case _ => ft match {
            case gt: GroupType => new NoopGroupConverter(gt)
            case _ => noopConverter
          }
        }
      }.toArray
    override def getConverter(i: Int): Converter = slots(i)
    override def start(): Unit = current = null
    override def end(): Unit =
      // loud like the Group path's fromGroup: a null record would
      // falsely signal EOF to parquet's reader loop (silent truncation)
      if (current == null) throw new IllegalArgumentException(
        "checkpoint parquet row with no add group set")
  }

  /** All AddFiles of the sidecar behind a [[LogStore]] read handle —
    * THE entry point for executor-side checkpoint scans (and any
    * driver read that should honor the store's GET semantics). A
    * locally-backed handle keeps the streaming file read; a remote
    * handle GETs the object once and decodes the footer/pages from
    * the buffered body — the same one-GET cost an object-store
    * parquet client pays, bounded by the slice size
    * ([[LakeLog.CHECKPOINT_PART_MAX_ACTIONS]]).
    */
  def read(r: LogFileReader): Seq[AddFile] = r.localPath match {
    case Some(lp) => read(java.nio.file.Paths.get(lp))
    case None =>
      val reader = new AddBuilder(new BytesInputFile(r.readAllBytes()))
        .withConf(new Configuration())
        .build()
      try Iterator.continually(reader.read())
        .takeWhile(_ != null).toVector
      finally reader.close()
  }

  /** [[ParquetReader.Builder]] over an arbitrary [[InputFile]] with
    * the example Group read support — parquet-java only exposes the
    * (ReadSupport, hadoop Path) static factory; the InputFile
    * constructor is protected for subclasses.
    */
  private final class GroupBuilder(in: org.apache.parquet.io.InputFile)
      extends ParquetReader.Builder[Group](in) {
    override protected def getReadSupport()
        : org.apache.parquet.hadoop.api.ReadSupport[Group] =
      new GroupReadSupport()
  }

  /** One GET'd object body as a random-access [[InputFile]]: parquet
    * needs footer-then-pages seeks, which a byte array serves without
    * further I/O. ByteArrayInputStream's `available` is (length −
    * position), so position tracking is arithmetic, and `reset` +
    * `skip` implement seek exactly.
    */
  private final class BytesInputFile(bytes: Array[Byte])
      extends org.apache.parquet.io.InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): org.apache.parquet.io.SeekableInputStream = {
      val s = new java.io.ByteArrayInputStream(bytes)
      new org.apache.parquet.io.DelegatingSeekableInputStream(s) {
        override def getPos: Long = (bytes.length - s.available()).toLong
        override def seek(newPos: Long): Unit = {
          // A truncated or corrupt GET body can carry a footer that
          // directs an out-of-range seek; ByteArrayInputStream.skip
          // returns 0 at EOF, so a blind skip loop would spin forever
          // and defeat the task-retry recovery the GET seam exists
          // for. Fail loudly instead.
          if (newPos > bytes.length)
            throw new java.io.EOFException(
              s"seek to $newPos past the ${bytes.length}-byte " +
              "checkpoint-part body (truncated or corrupt object read)")
          s.reset()
          var left = newPos
          while (left > 0) {
            val skipped = s.skip(left)
            if (skipped <= 0)
              throw new java.io.EOFException(
                s"checkpoint-part body ended ${left} bytes short of " +
                s"seek target $newPos")
            left -= skipped
          }
        }
      }
    }
  }

  /** `add.path` values only, under a projection that decodes nothing
    * else — the incremental-checkpoint writer's dirty-sidecar probe:
    * deciding WHICH sidecars a cadence must rewrite needs path
    * membership against the tail's touched set, and paying the full
    * stats/partition-map decode of every carried-forward slice per
    * cadence would put the O(table) cost back where the manifest
    * design removed it. Paths are the narrowest dictionary-encoded
    * column of the sidecar — a small fraction of its bytes.
    */
  private val PATH_SCHEMA: MessageType = MessageTypeParser
    .parseMessageType("""message paths {
      optional group add {
        required binary path (STRING);
      }
    }""")

  def readPaths(r: LogFileReader): Seq[String] = {
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport
      .PARQUET_READ_SCHEMA, PATH_SCHEMA.toString)
    val reader = r.localPath match {
      case Some(lp) => ParquetReader
        .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(lp))
        .withConf(conf)
        .build()
      case None => new GroupBuilder(new BytesInputFile(r.readAllBytes()))
        .withConf(conf)
        .build()
    }
    try Iterator.continually(reader.read())
      .takeWhile(_ != null)
      .flatMap(g =>
        if (g.getFieldRepetitionCount("add") > 0)
          Some(g.getGroup("add", 0).getString("path", 0))
        else None)
      .toVector
    finally reader.close()
  }

  /** AddFile rows under a LITE projection that drops the three stats
    * maps (minValues/maxValues/nullCounts) — the byte bulk of a
    * sidecar at realistic stat width (a 12-column table
    * carries ~24 strings + 12 longs of stats per file vs one path and
    * a handful of scalars). Parquet column pruning means the stats
    * column chunks are never read off the device, not merely not
    * decoded — the scan pays a small fraction of the sidecar's bytes in
    * both I/O and CPU. Callers that only need identity/placement
    * facts (summary fold, (path, size) projections, partition tuples,
    * sidecar maps) ride this; anything that re-commits or prunes on
    * stats MUST use the full [[read]].
    *
    * CONTRACT: returned AddFiles carry EMPTY stats maps. Never hand
    * them to a pruner or writer.
    */
  private val ADD_LITE_SCHEMA: MessageType = MessageTypeParser
    .parseMessageType("""message add_lite {
      optional group add {
        required binary path (STRING);
        repeated group partitionValues {
          required binary key (STRING);
          optional binary value (STRING);
        }
        required int64 size;
        required int64 numRecords;
        optional binary dvPath (STRING);
        required int64 dvCardinality;
        optional binary bloomPath (STRING);
        optional int64 baseRowId;
        optional int64 clusterGen;
      }
    }""")

  /** The lite projection INTERSECTED with the sidecar's own file schema:
    * [[ADD_LITE_SCHEMA]] names every CURRENT add column, but parquet's
    * `checkContains` rejects a requested field absent from the file —
    * a sidecar written by an older engine build (before baseRowId /
    * clusterGen / bloomPath / numRecords / dvCardinality existed)
    * would throw on the exact projection the direct full [[read]]
    * tolerates by building its converter tree from the file schema.
    * Missing columns simply drop out of the projection and decode at
    * the same defaults the full reader uses. None when the file has
    * no `add` group at all: parquet cannot project zero columns, so
    * the read support falls back to the file's first column and the
    * row mapper's `containsField` guard yields nothing.
    */
  private def liteProjectionFor(
      fileSchema: MessageType): Option[MessageType] = {
    if (!fileSchema.containsField("add")) return None
    val fileAdd = fileSchema
      .getType(fileSchema.getFieldIndex("add")).asGroupType()
    val liteAdd = ADD_LITE_SCHEMA
      .getType(ADD_LITE_SCHEMA.getFieldIndex("add")).asGroupType()
    val kept = new java.util.ArrayList[org.apache.parquet.schema.Type]()
    liteAdd.getFields.forEach { f =>
      if (fileAdd.containsField(f.getName)) { kept.add(f); () }
    }
    if (kept.isEmpty) None
    else Some(new MessageType("add_lite",
      new org.apache.parquet.schema.GroupType(
        org.apache.parquet.schema.Type.Repetition.OPTIONAL, "add", kept)))
  }

  /** [[GroupReadSupport]] whose requested projection is
    * [[liteProjectionFor]] of the ACTUAL file schema, computed in
    * `init` where parquet hands the file schema over — older sidecars
    * decode under exactly the columns they have.
    */
  private final class LiteReadSupport extends GroupReadSupport {
    override def init(conf: Configuration,
        kv: java.util.Map[String, String],
        fileSchema: MessageType)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext =
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(
        liteProjectionFor(fileSchema).getOrElse(
          new MessageType("add_lite", fileSchema.getFields.get(0))))
  }

  def readAddsLite(r: LogFileReader): Iterator[AddFile] = {
    val conf = new Configuration()
    val reader = r.localPath match {
      case Some(lp) => ParquetReader
        .builder(new LiteReadSupport(), new org.apache.hadoop.fs.Path(lp))
        .withConf(conf)
        .build()
      case None =>
        new ParquetReader.Builder[Group](
            new BytesInputFile(r.readAllBytes())) {
          override protected def getReadSupport()
              : org.apache.parquet.hadoop.api.ReadSupport[Group] =
            new LiteReadSupport()
        }
        .withConf(conf)
        .build()
    }
    try Iterator.continually(reader.read())
      .takeWhile(_ != null)
      .flatMap { g =>
        if (g.getType.containsField("add") &&
            g.getFieldRepetitionCount("add") > 0) {
          val a = g.getGroup("add", 0)
          val at = a.getType
          def has(n: String) =
            at.containsField(n) && a.getFieldRepetitionCount(n) > 0
          def lng(n: String): Long = if (has(n)) a.getLong(n, 0) else 0L
          def os(n: String): Option[String] =
            if (has(n)) Some(a.getString(n, 0)) else None
          def ol(n: String): Option[Long] =
            if (has(n)) Some(a.getLong(n, 0)) else None
          Some(Interned.addFile(AddFile(
            path = a.getString("path", 0),
            partitionValues =
              if (at.containsField("partitionValues"))
                readMap(a, "partitionValues")
              else Map.empty,
            size = lng("size"),
            numRecords = lng("numRecords"),
            dvPath = os("dvPath"),
            dvCardinality = lng("dvCardinality"),
            bloomPath = os("bloomPath"),
            baseRowId = ol("baseRowId"),
            clusterGen = ol("clusterGen"))))
        } else None
      }
      .toVector.iterator
    finally reader.close()
  }
}
