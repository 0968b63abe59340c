package graft.ingest

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.annotation.JsonInclude.Include
import com.fasterxml.jackson.core.{JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{DeserializationContext, DeserializationFeature}
import com.fasterxml.jackson.databind.deser.std.StdDeserializer
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.fasterxml.jackson.module.scala.introspect.ScalaAnnotationIntrospectorModule

import Snapshots.FileStat

/** The snapshot log's on-disk format (Delta's transaction log, reduced
  * to what [[Snapshots]] needs): one `<root>/<prefix>._log/vNNNNN.json`
  * [[Entry]] per version (five or more digits), plus a full-state
  * `vNNNNN.ckpt.json` every [[Snapshots.checkpointInterval]] versions.
  * A fmt-3 delta, empty fields left out:
  *
  * {{{
  * {"version": 12, "fmt": 3, "op": "append", "maxPos": 2999, "parent": 11,
  *  "add": [...], "del": [...], "txnsAdd": [...], "dv": [...],
  *  "statsAdd": [{"file": ..., "column": ..., "min": 0, "max": 9, "typ": "L"}]}
  * }}}
  *
  * A checkpoint holds the full state (`files`, `txns`, `stats`) plus the
  * cumulative `refsEver` and `evs`. Entries before fmt 3 still decode:
  * stats as `file|column|min|max[|typ]` strings, `parent` as a string,
  * `dv` comma-joined, the column change as a `|`-joined `addedCol`, and
  * fmt-1 manifests with a full `files` list and maybe no `op`. */
object CommitLog {

  val Fmt = 3

  /** The column a schema-evolution commit changes: `addcol` sets
    * `ddlType` (and `default` when given), `renamecol` sets `to`. */
  final case class ColumnChange(name: String, ddlType: Option[String] = None,
                                default: Option[String] = None,
                                to: Option[String] = None)

  /** One log file. Defaults are what an absent field means, so empty
    * fields are not written. `files`, `refsEver` and `evs` are options
    * because their presence matters: `files` marks a full-state entry,
    * and a checkpoint written before `refsEver`/`evs` existed cannot
    * answer for them. */
  @JsonInclude(Include.NON_EMPTY)
  final case class Entry(version: Int,
                         fmt: Int = 1,
                         op: Option[String] = None,
                         maxPos: Long = -1L,
                         parent: Option[Int] = None,
                         add: Seq[String] = Seq.empty,
                         del: Seq[String] = Seq.empty,
                         removed: Seq[String] = Seq.empty,
                         txnsAdd: Seq[String] = Seq.empty,
                         statsAdd: Seq[FileStat] = Seq.empty,
                         dv: Seq[String] = Seq.empty,
                         audit: Option[String] = None,
                         publishedFrom: Option[String] = None,
                         column: Option[ColumnChange] = None,
                         @JsonInclude(Include.NON_ABSENT) files: Option[Seq[String]] = None,
                         txns: Seq[String] = Seq.empty,
                         stats: Seq[FileStat] = Seq.empty,
                         @JsonInclude(Include.NON_ABSENT) refsEver: Option[Seq[String]] = None,
                         @JsonInclude(Include.NON_ABSENT) evs: Option[Seq[Int]] = None,
                         addedCol: Option[String] = None) {
    /** fmt-1 entries carry no op: a removed list meant compaction. */
    def opName: String = op.getOrElse(if (removed.nonEmpty) "compact" else "append")
  }

  def logDir(root: String, prefix: String): Path = Paths.get(s"$root/$prefix._log")

  def versionPath(root: String, prefix: String, v: Int): Path =
    logDir(root, prefix).resolve(f"v$v%05d.json")

  def ckptPath(root: String, prefix: String, v: Int): Path =
    logDir(root, prefix).resolve(f"v$v%05d.ckpt.json")

  private val VersionFile = "v(\\d{5,})\\.json".r

  /** The version a log directory entry names, if it is a version file. */
  def versionOf(fileName: String): Option[Int] = fileName match {
    case VersionFile(digits) => Some(digits.toInt)
    case _ => None
  }

  /** Stats are `{file, column, min, max, typ}` objects. fmt 1–2 wrote
    * strings; one that does not decode reads as null, dropped by [[decode]]. */
  private object StatDeserializer extends StdDeserializer[FileStat](classOf[FileStat]) {
    override def deserialize(p: JsonParser, ctx: DeserializationContext): FileStat =
      if (p.hasToken(JsonToken.VALUE_STRING)) p.getText.split('|') match {
        // no type tag (before round 4) meant INT64
        case Array(f, c, lo, hi, typ @ _*) if typ.size <= 1 =>
          try FileStat(f, c, lo.toLong, hi.toLong, typ.headOption.getOrElse("L"))
          catch { case _: NumberFormatException => null }
        case _ => null
      } else {
        var file, column: String = null
        var min, max = 0L
        var typ = "L"
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val key = p.currentName()
          p.nextToken()
          key match {
            case "file" => file = p.getText
            case "column" => column = p.getText
            case "min" => min = p.getLongValue
            case "max" => max = p.getLongValue
            case "typ" => typ = p.getText
            case _ => p.skipChildren()
          }
        }
        if (file == null || column == null)
          ctx.reportInputMismatch(this, "stat without file or column"): Unit
        FileStat(file, column, min, max, typ)
      }
  }

  /** `"key": value, ...` spacing, the layout every fmt wrote. */
  private object Spacing extends MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  }

  private val mapper = {
    // Option[Int] and Option[Seq[Int]] erase to Object: name the value type
    ScalaAnnotationIntrospectorModule.registerReferencedValueType(classOf[Entry], "parent", classOf[Int])
    ScalaAnnotationIntrospectorModule.registerReferencedValueType(classOf[Entry], "evs", classOf[Int])
    JsonMapper.builder()
      .addModule(DefaultScalaModule)
      .addModule(new SimpleModule().addDeserializer(classOf[FileStat], StatDeserializer))
      // fmt 1–2 wrote `dv` as one comma-joined string, and strings
      // unescaped: a control character went into the file raw
      .enable(DeserializationFeature.ACCEPT_SINGLE_VALUE_AS_ARRAY)
      .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      // a non-BMP character is the same UTF-8 whether an entry is
      // encoded to bytes or streamed through a Writer
      .enable(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)
      .build()
  }
  private val writer = mapper.writer(Spacing)

  def encode(e: Entry): Array[Byte] = writer.writeValueAsBytes(e)

  /** Serialize into `w` (and close it): a checkpoint at 10⁶ files
    * never exists as one String. */
  def write(w: java.io.Writer, e: Entry): Unit = writer.writeValue(w, e)

  /** Decode one log file; entries older than fmt 3 come back in fmt-3
    * form. */
  def decode(bytes: Array[Byte]): Entry = {
    val e = mapper.readValue(bytes, classOf[Entry])
    if (e.fmt >= Fmt) e
    else e.copy(
      dv = e.dv.flatMap(_.split(',')).filter(_.nonEmpty),
      statsAdd = e.statsAdd.filter(_ != null),
      stats = e.stats.filter(_ != null),
      column = e.addedCol.flatMap(legacyColumn(e.opName, _)),
      addedCol = None)
  }

  private def legacyColumn(op: String, s: String): Option[ColumnChange] =
    (op, s.split('|')) match {
      case ("addcol", Array(n, t)) => Some(ColumnChange(n, Some(t)))
      case ("addcol", Array(n, t, d)) => Some(ColumnChange(n, Some(t), Some(d)))
      case ("renamecol", Array(from, to)) => Some(ColumnChange(from, to = Some(to)))
      case ("dropcol", Array(n)) => Some(ColumnChange(n))
      case _ => None
    }

  /** The integer `key` of a small JSON state file (the offload
    * watermark, consume progress); None when the file does not exist.
    * A file without the key is not a position and fails. */
  def readPosition(p: Path, key: String): Option[Long] =
    Option.when(Files.exists(p)) {
      val v = mapper.readTree(p.toFile).get(key)
      if (v == null || !v.isIntegralNumber)
        throw new IllegalStateException(s"$p has no integer \"$key\"")
      v.asLong
    }
}
