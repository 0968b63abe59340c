package graft

import java.nio.file.{Files, Paths}

import org.scalacheck.{Gen, Prop, Test}

import graft.ingest.{CommitLog, ConsumeJob, ProduceJob, Snapshots, Topics}
import graft.ingest.CommitLog.{ColumnChange, Entry}

/** The commit-log codec: exact round trips for any string the engine
  * may put in a log entry, versions past five digits, and the small
  * position files that share its mapper. */
class CommitLogSpec extends SparkTestBase {

  // quote, backslash, ']', '|', ',', control characters and non-BMP
  // code points: every character the regex-parsed format could not carry
  private val hazardStr: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("\"", "\\", "]", "[", "|", ",", "{", "}", ":"),
    2 -> Gen.choose(0, 0x1f).map(c => c.toChar.toString),
    1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp)))
  )).map(_.mkString)

  private val strs = Gen.listOf(hazardStr)

  private val stat: Gen[Snapshots.FileStat] = for {
    file <- hazardStr; column <- hazardStr
    min <- Gen.long; max <- Gen.long; typ <- Gen.oneOf("L", "D", "S", "N", "R")
  } yield Snapshots.FileStat(file, column, min, max, typ)

  private val column: Gen[ColumnChange] = for {
    name <- hazardStr; ddlType <- Gen.option(hazardStr)
    default <- Gen.option(hazardStr); to <- Gen.option(hazardStr)
  } yield ColumnChange(name, ddlType, default, to)

  private val entry: Gen[Entry] = for {
    version <- Gen.choose(0, Int.MaxValue)
    op <- Gen.option(hazardStr); maxPos <- Gen.long
    parent <- Gen.option(Gen.choose(-1, Int.MaxValue))
    add <- strs; del <- strs; removed <- strs; txnsAdd <- strs
    statsAdd <- Gen.listOf(stat); dv <- strs
    audit <- Gen.option(hazardStr); publishedFrom <- Gen.option(hazardStr)
    col <- Gen.option(column)
    files <- Gen.option(strs); txns <- strs; stats <- Gen.listOf(stat)
    refsEver <- Gen.option(strs); evs <- Gen.option(Gen.listOf(Gen.choose(0, Int.MaxValue)))
  } yield Entry(version, CommitLog.Fmt, op, maxPos, parent, add, del, removed,
    txnsAdd, statsAdd, dv, audit, publishedFrom, col, files, txns, stats, refsEver, evs)

  test("any entry round-trips exactly through the codec, as bytes and through a writer") {
    val prop = Prop.forAll(entry) { e =>
      val viaWriter = new java.io.StringWriter
      CommitLog.write(viaWriter, e)
      val bytes = CommitLog.encode(e)
      CommitLog.decode(bytes) == e &&
        viaWriter.toString == new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(result.passed, result.status.toString)
  }

  test("a table keeps committing past v99999, and readers see the new versions") {
    val root = tempDir("graft_clog").toString
    Snapshots.writeSnapshot(root, "t", 99999, 0L, Seq.empty, Seq.empty)
    assert(Snapshots.commit(root, "t", maxPos = 1) == 100000)
    assert(Snapshots.commit(root, "t", maxPos = 2) == 100001)
    assert(Snapshots.versions(root, "t") == Seq(99999, 100000, 100001))
    val head = Snapshots.snapshot(root, "t", None).get
    assert(head.version == 100001 && head.maxPos == 2)
    assert(Files.isRegularFile(CommitLog.ckptPath(root, "t", 100000)))
  }

  test("position files: a missing file reads as None, a file without its key fails") {
    val root = tempDir("graft_pos").toString
    assert(ProduceJob.readManifest(root, "p").isEmpty)
    assert(ConsumeJob.readProgress(root, "p").isEmpty)
    ProduceJob.commitManifest(root, "p", 41)
    ConsumeJob.commitProgress(root, "p", 17)
    assert(ProduceJob.readManifest(root, "p").contains(41L))
    assert(ConsumeJob.readProgress(root, "p").contains(17L))
    // a foreign file's digits are not a position
    Files.writeString(Paths.get(Topics.manifestPath(root, "p")), """{"offloadedAt": 1700000000}""")
    intercept[IllegalStateException](ProduceJob.readManifest(root, "p"))
    Files.writeString(Paths.get(Topics.progressPath(root, "p")), """{"consumedMaxPos": "17"}""")
    intercept[IllegalStateException](ConsumeJob.readProgress(root, "p"))
    // nor is a truncated one's
    Files.writeString(Paths.get(Topics.progressPath(root, "p")), """{"consumedMaxPos": 1""")
    intercept[com.fasterxml.jackson.core.JsonProcessingException](ConsumeJob.readProgress(root, "p"))
  }
}
